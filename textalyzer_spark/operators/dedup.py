"""Deduplication operators for training-data pipelines:
exact, n-gram Jaccard, MinHash+LSH, SimHash.

North_star: "n-gram shingling with rolling-hash duplicate detection".
The shingle→hash→band→bucket-join pattern follows the public
MinHash/LSH literature (Broder 1997; Leskovec et al., MMDS ch.3).

Scale notes: every stage is a hash shuffle on a derived key (shingle,
band hash, simhash chunk). Partial aggregation and AQE skew splitting
apply automatically; signature computation is per-row (no shuffle) —
MinHash and SimHash both in Arrow-batched numpy (the Catalyst
higher-order-function versions ran interpreted and ~20-50x slower).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from textalyzer_spark.operators.shingles import doc_shingles

# Mersenne prime 2^31-1: the base hash is reduced mod p BEFORE the
# affine transform, so a,b,(x mod p) < p and a*x + b < 2^62 — exact in
# signed 64-bit (Spark 4 ANSI mode throws on overflow; a 2^61 prime
# would overflow the multiply).
_P = (1 << 31) - 1


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact duplicate groups by md5 of the raw text:
    ``(fingerprint, keep_id, n_docs)`` — ``keep_id`` is the minimal
    doc_id (the canonical survivor). One hash-aggregate shuffle."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("fingerprint"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def _distinct_shingles(
    df: DataFrame,
    k: int,
    id_col: str,
    text_col: str,
    with_base_hash: bool = False,
    sig_params: tuple[int, int] | None = None,
) -> DataFrame:
    """DISTINCT ``(doc_id, shingle)`` — deduplicated IN THE KERNEL:
    duplicates can only occur within a document, so emitting each
    doc's shingle set (insertion-ordered dict keys) makes the rows
    globally distinct with no corpus-wide distinct shuffle (round 8;
    the winnow-fingerprint discipline). Multiset-identical to
    ``doc_shingles(...).distinct()``.

    ``with_base_hash=True`` additionally emits ``x`` = the minhash
    base hash ``md5-LE8(shingle) mod p`` — hashlib.md5 here costs
    microseconds per batch, while the JVM twin (md5 → 8 hex
    substrings → concat → conv(16,10) → decimal → pmod,
    ``_md5_le8_col``) dominated the signature aggregation (round-8
    profile: ~0.8 s of the 1.9 s minhash pair chain at sf0.1).
    Identical values by the md5-LE8 == md5_number_upper identity.

    ``sig_params=(num_hashes, seed)`` additionally emits ONE
    signature row per document (``shingle``/``x`` NULL,
    ``signature`` = the minhash affine-min vector, computed in-kernel
    exactly as :func:`minhash_signatures` does) interleaved with the
    shingle rows — one kernel pass and ONE materialization replace
    the kernel pass + a separate affine-min aggregation shuffle
    (round 8: at bench scale these composition gates are bounded by
    job/barrier count, not data). Slice consumers with
    ``shingle IS [NOT] NULL``. Values identical to
    :func:`_signatures_from_shingles` over the shingle slice (same
    base hash mod p, same affine params, min over the same distinct
    set — the identity already pinned for minhash_signatures)."""
    import hashlib
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from textalyzer_spark.functions.tokenize import tokenize_text

    if sig_params is not None:
        num_hashes, seed = sig_params
        av, bv = _hash_params(num_hashes, seed)
        a_arr = np.asarray(av, dtype=np.uint64)
        b_arr = np.asarray(bv, dtype=np.uint64)
        p_mod = np.uint64(_P)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, shingles = [], []
            xs: list[int] = []
            sig_ids, sig_vals = [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                toks = tokenize_text(text or "")
                n = len(toks) - k + 1
                if n <= 0:
                    continue
                ss = dict.fromkeys(
                    " ".join(toks[i : i + k]) for i in range(n)
                )
                ids.extend([doc_id] * len(ss))
                shingles.extend(ss)
                if with_base_hash or sig_params is not None:
                    doc_xs = [
                        int.from_bytes(
                            hashlib.md5(s.encode()).digest()[:8], "little"
                        )
                        % _P
                        for s in ss
                    ]
                    if with_base_hash:
                        xs.extend(doc_xs)
                    if sig_params is not None:
                        base = np.asarray(doc_xs, dtype=np.uint64)
                        # a*(x mod p)+b < 2^62 — exact in uint64
                        perms = (
                            base[:, None] * a_arr[None, :] + b_arr[None, :]
                        ) % p_mod
                        sig_ids.append(doc_id)
                        sig_vals.append(
                            perms.min(axis=0).astype(np.int64).tolist()
                        )
            out: dict = {"doc_id": ids, "shingle": shingles}
            if with_base_hash:
                out["x"] = pd.Series(xs, dtype="int64")
            if sig_params is not None:
                # object dtypes throughout: an all-short-doc batch
                # yields empty lists, and pandas' default float64
                # empty column is not Arrow-convertible to
                # list<int64> (same guard as minhash_signatures)
                n_sh, n_sig = len(ids), len(sig_ids)
                out["doc_id"] = pd.Series(ids + sig_ids, dtype="object")
                out["shingle"] = pd.Series(
                    shingles + [None] * n_sig, dtype="object"
                )
                if with_base_hash:
                    out["x"] = pd.Series(
                        xs + [None] * n_sig, dtype="object"
                    )
                out["signature"] = pd.Series(
                    [None] * n_sh + sig_vals, dtype="object"
                )
            yield pd.DataFrame(out)

    id_type = dict(df.dtypes).get(id_col, "string")
    schema = f"doc_id {id_type}, shingle string"
    if with_base_hash:
        schema += ", x bigint"
    if sig_params is not None:
        schema += ", signature array<bigint>"
    return df.select(id_col, text_col).mapInPandas(run, schema)


def ngram_jaccard_pairs(
    df: DataFrame,
    k: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact n-gram Jaccard near-duplicate pairs:
    ``(doc_a, doc_b, jaccard)`` for pairs with similarity >= threshold,
    jaccard rounded to 4 decimals, doc_a < doc_b.

    Shuffles: distinct shingles (1), self-join on shingle (2),
    pair aggregation (3).

    ``max_doc_freq`` (default ON) drops shingles appearing in more
    than that many documents BEFORE the self-join — the skew/scale
    guard: a boilerplate shingle in f documents fans out f^2/2 join
    rows while carrying no dedup signal. Document sizes are computed
    before the drop, so a capped shingle can only LOWER a pair's
    jaccard (never create a false positive); pairs whose overlap is
    pure boilerplate are intentionally suppressed. ``None`` restores
    the uncapped exact semantics. At 10^12 docs prefer
    :func:`minhash_lsh_pairs`, which replaces the full self-join with
    banded buckets.
    """
    sh = _distinct_shingles(df, k, id_col, text_col)
    # the shingle table fans out to sizes, the doc-freq cap, and both
    # self-join sides — materialize once instead of re-tokenizing the
    # corpus per consumer (same pattern as winnow_pairs /
    # duplicate_blocks; on a cluster: write derived shingles once,
    # join from storage)
    sh = sh.localCheckpoint()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    if max_doc_freq is not None:
        keep = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_doc_freq)
            .select("shingle")
        )
        sh = sh.join(keep, "shingle")
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, F.col("a.shingle") == F.col("b.shingle"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
                4,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _hash_params(num_hashes: int, seed: int) -> tuple[list[int], list[int]]:
    """Deterministic (a, b) for h_i(x) = (a_i*x + b_i) mod p."""
    import random

    rng = random.Random(seed)
    return (
        [rng.randrange(1, _P) for _ in range(num_hashes)],
        [rng.randrange(0, _P) for _ in range(num_hashes)],
    )


def minhash_signatures(
    df: DataFrame,
    k: int = 3,
    num_hashes: int = 64,
    seed: int = 42,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``(doc_id, signature array<bigint>)`` — MinHash over k-shingles.

    Arrow-batched numpy implementation: shingle base hashes (the
    first 8 md5 digest bytes, little-endian — deterministic across
    workers, and equal to DuckDB's ``md5_number_upper`` so the LSH
    pipeline has a value-exact SQL oracle; python's builtin hash()
    is salted per process and MUST NOT be used) reduced mod p, then
    x num_hashes affine permutations as one (shingles x hashes)
    uint64 matrix, min along axis 0.

    A pure-Catalyst formulation (transform + array_min per
    permutation) was tried first: higher-order-function lambdas
    evaluate INTERPRETED (outside whole-stage codegen) and took 18.5s
    for 5.8M modular ops at sf0.1; this batch pass is ~50x faster.
    No shuffle either way; scales linearly with corpus size.
    """
    import hashlib
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from textalyzer_spark.functions.tokenize import tokenize_text

    av, bv = _hash_params(num_hashes, seed)
    a_arr = np.asarray(av, dtype=np.uint64)
    b_arr = np.asarray(bv, dtype=np.uint64)
    p_mod = np.uint64(_P)

    def base_hash64(s: str) -> int:
        # == DuckDB md5_number_upper(s): first 8 digest bytes, LE
        return int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "little")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            doc_ids, sigs = [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                toks = tokenize_text(text or "")
                if len(toks) < k:
                    continue
                shingles = {
                    " ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)
                }
                base = (
                    np.asarray(
                        [base_hash64(s) for s in shingles], dtype=np.uint64
                    )
                    % p_mod
                )
                # (n_shingles, num_hashes): a*(x mod p)+b < 2^62, exact
                perms = (base[:, None] * a_arr[None, :] + b_arr[None, :]) % p_mod
                doc_ids.append(doc_id)
                sigs.append(perms.min(axis=0).astype(np.int64).tolist())
            # explicit object dtype: a non-empty batch whose docs are
            # ALL too short yields empty lists, and pandas' default
            # float64 empty column is not Arrow-convertible to
            # list<int64> (NumPyConverter) — hit by streaming
            # maintenance on tiny batches
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(doc_ids, dtype="object"),
                    "signature": pd.Series(sigs, dtype="object"),
                }
            )

    id_type = dict(df.dtypes).get(id_col, "string")
    return df.mapInPandas(run, f"doc_id {id_type}, signature array<bigint>")


def _md5_le8_col(c) -> "F.Column":
    """JVM column: ``int.from_bytes(md5(s).digest()[:8], "little")``
    — the engine's cross-engine base hash (== DuckDB
    ``md5_number_upper``), computed INSIDE whole-stage codegen: the
    first 8 digest bytes are the first 16 hex chars of ``md5()``,
    byte-reversed, then ``conv(_, 16, 10)`` (unsigned 64-bit) read
    exactly via decimal(20,0)."""
    h = F.md5(c)
    le = F.concat(*[F.substring(h, i, 2) for i in (15, 13, 11, 9, 7, 5, 3, 1)])
    return F.conv(le, 16, 10).cast("decimal(20,0)")


def _signatures_from_shingles(
    sh: DataFrame, num_hashes: int, seed: int
) -> DataFrame:
    """``(doc_id, signature array<bigint>)`` from a DISTINCT
    ``(doc_id, shingle)`` table, entirely JVM-side: base = md5-LE8
    mod p (codegen), then ``num_hashes`` affine mins as one groupBy
    with ``num_hashes`` MIN aggregates — partial (map-side) aggregation
    means the shuffle carries one row per (partition, doc), not per
    shingle. Identical values to :func:`minhash_signatures` (same
    base hash, same affine params, min over the same distinct-shingle
    set) — but when the shingle table is ALSO needed for exact verify
    (minhash_lsh_pairs), this path reuses it instead of re-running
    the whole tokenize+shingle pass in python."""
    av, bv = _hash_params(num_hashes, seed)
    # prefer the kernel-computed base hash when the shingle table
    # carries it (with_base_hash=True) — same values, none of the
    # hex-conv-decimal chain per row
    if "x" in sh.columns:
        based = sh.select("doc_id", "x")
    else:
        x = F.pmod(_md5_le8_col(F.col("shingle")), F.lit(_P)).cast("bigint")
        based = sh.select("doc_id", x.alias("x"))
    # x < 2^31 and a < 2^31, so a*x + b < 2^62 — exact in ANSI bigint
    aggs = [
        F.min((F.col("x") * F.lit(av[i]) + F.lit(bv[i])) % F.lit(_P)).alias(
            f"_s{i}"
        )
        for i in range(num_hashes)
    ]
    return based.groupBy("doc_id").agg(*aggs).select(
        "doc_id",
        F.array(*[F.col(f"_s{i}") for i in range(num_hashes)]).alias(
            "signature"
        ),
    )


def _band_buckets(sigs: DataFrame, bands: int, rows: int) -> DataFrame:
    """``(doc_id, band, bucket)`` from a ``(doc_id, signature)`` table:
    the signature cut into ``bands`` bands of ``rows`` values, each
    band's values joined as a string bucket key (NOT re-hashed — see
    the key-width note in :func:`minhash_lsh_pairs`). Shared by the
    single-corpus LSH join and the incremental catalog join."""
    return sigs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bnd: F.concat_ws(
                    ",",
                    F.transform(
                        F.slice(F.col("signature"), bnd * rows + 1, rows),
                        lambda x: x.cast("string"),
                    ),
                ),
            )
        ).alias("band", "bucket"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    seed: int = 42,
    max_bucket_docs: int | None = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingles: DataFrame | None = None,
    buckets: DataFrame | None = None,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """MinHash + banded LSH near-duplicate pairs, exact-verified:
    ``(doc_a, doc_b, jaccard)``. ``shingles=`` accepts an ALREADY
    MATERIALIZED distinct ``(doc_id, shingle)`` table so a caller
    that also needs signatures (incremental component maintenance)
    pays for one tokenize+shingle pass, not two; ``buckets=`` an
    ALREADY MATERIALIZED ``(doc_id, band, bucket)`` table (the
    ``_band_buckets`` cut of the same signatures) so that caller's
    cross band join and this intra join share ONE signature
    aggregation + band explode (round 8); ``sigs=`` an ALREADY
    MATERIALIZED ``(doc_id, signature)`` table — the band cut then
    derives from the checkpoint as a cheap narrow explode per
    consumer (no bucket checkpoint), and the caller's other signature
    consumers (catalog join, estimator attach) read the same
    materialization instead of re-running the affine-min aggregation
    (round 8: the agg ran twice per catalog build).

    Candidate generation: signatures are cut into ``bands`` bands of
    ``num_hashes/bands`` rows; docs colliding in any band's bucket
    become candidates (bucket join — no all-pairs self-join).
    Candidates are then verified with exact shingle Jaccard, so
    precision is exact and only recall depends on the S-curve
    1-(1-t^r)^b. With 64 hashes / 16 bands (r=4), t=0.5 → ~0.93 recall.

    ``max_bucket_docs`` (default ON) skips band buckets holding more
    than that many documents — the LSH mega-bucket guard: a
    boilerplate family of f near-identical docs puts all f in the
    same bucket of EVERY band, fanning the join out to f^2/2 rows per
    band (measured: a 50k-doc boilerplate-heavy synthetic emitted
    470k true pairs through ~10^9 candidate rows). A pair is lost
    only if every band bucket it shares is over the cap, i.e. only
    inside such quadratic-by-construction families; ``None`` restores
    unguarded recall.
    """
    rows = num_hashes // bands
    # ONE tokenize+shingle pass over the corpus: the distinct-shingle
    # table feeds BOTH the signatures (JVM md5 + affine-min groupBy)
    # and the exact-verify joins below. The previous shape ran the
    # python minhash stage AND the shingle materialization — two full
    # passes over every byte of the corpus.
    if shingles is not None:
        sh = shingles
    else:
        # ONE kernel pass + ONE materialization carries both the
        # distinct-shingle rows (for exact verify) and one in-kernel
        # signature row per doc (for the band cut) — the separate
        # affine-min aggregation shuffle + its own checkpoint are gone
        # (round 8: these gates are bounded by job/barrier count at
        # bench scale, and at cluster scale it is one less pass over
        # the derived shingle table). Signature rows only when no
        # caller-supplied sigs/buckets cut the bands — otherwise they
        # would be computed, checkpointed and never read.
        with_sigs = sigs is None and buckets is None
        raw = _distinct_shingles(
            df, k, id_col, text_col, with_base_hash=True,
            sig_params=(num_hashes, seed) if with_sigs else None,
        ).localCheckpoint()
        sh = raw
        if with_sigs:
            sh = raw.filter(F.col("shingle").isNotNull()).select(
                "doc_id", "shingle", "x"
            )
            sigs = raw.filter(F.col("shingle").isNull()).select(
                "doc_id", "signature"
            )
    if buckets is None and sigs is not None:
        # caller- or kernel-materialized signatures: each bucket
        # consumer (guard, both join sides) re-derives the band
        # explode from the checkpoint slice — a narrow derive,
        # measured equal to a bucket checkpoint (round-8 A/B) with
        # one less materialization held in memory.
        # bucket key = the band's signature values joined as a string —
        # NOT re-hashed (xxhash64 has no cross-engine twin, and the key
        # is bounded at rows x ~10 digits, so the shuffle-width win of
        # an 8-byte rehash is marginal; equality semantics are
        # identical minus a ~2^-64 collision false-positive the
        # exact-verify stage would kill anyway)
        buckets = _band_buckets(sigs, bands, rows)
    elif buckets is None:
        # caller passed a bare shingle table with no signatures: the
        # JVM affine-min aggregation derives them, materialized as a
        # bucket checkpoint — without it each bucket consumer re-runs
        # the aggregation (A/B'd in round 8: dropping this checkpoint
        # and relying on ReusedExchange measured 2.2 -> ~5 s on
        # minhash_lsh at sf0.1 — the broadcast-join plan shape at
        # this scale gives Catalyst no identical Exchange pair to
        # reuse)
        jsigs = _signatures_from_shingles(sh, num_hashes, seed)
        buckets = _band_buckets(jsigs, bands, rows).localCheckpoint()
    if max_bucket_docs is not None:
        ok = (
            buckets.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") <= max_bucket_docs)
            .select("band", "bucket")
        )
        buckets = buckets.join(ok, ["band", "bucket"])
    a, b = buckets.alias("a"), buckets.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # exact verification of candidates only, reusing the materialized
    # shingle table from the top of the pipeline
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    sha = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    shb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cands.join(sha, "doc_a")
        .join(shb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
                4,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def contamination_stats(
    df: DataFrame,
    benchmark: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """Benchmark-contamination detection (the decontamination step of
    a training-data pipeline, public recipe: GPT-3 appendix C /
    PaLM-style n-gram overlap): for every training document, the
    fraction of its token ``k``-gram occurrences that appear anywhere
    in the ``benchmark`` corpus —

    ``(doc_id, n_kgrams, n_contaminated, contamination_frac)``

    A doc with ``contamination_frac > 0`` shares at least one k-token
    span verbatim with the benchmark; filter or flag downstream.
    ``contamination_frac`` is an unrounded double of integer counts
    (bit-identical cross-engine).

    Scale shape: the benchmark k-gram set is DISTINCT and tiny
    relative to the corpus (benchmarks are thousands of docs, the
    corpus 10^12) — Catalyst broadcasts it under AQE; the corpus side
    is one shingle pass + a left semi-style join + one groupBy on
    doc_id. Docs with < k tokens have no k-grams: n_kgrams=0 and a
    NULL fraction."""
    return contamination_from_catalog(
        df,
        benchmark_gram_catalog(benchmark, k, bench_id_col, bench_text_col),
        k=k,
        id_col=id_col,
        text_col=text_col,
    )


def benchmark_gram_catalog(
    benchmark: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The persistable decontamination state: the benchmark corpus's
    DISTINCT token ``k``-gram set, one ``(shingle)`` row each —
    bounded by benchmark size (thousands of docs), never the training
    corpus. Benchmark suites GROW over time; screen every new crawl
    against the merged catalog instead of re-shingling every
    benchmark ever ingested (:func:`merge_gram_catalogs`, plain
    union-distinct: merge(cat(A), cat(B)) == cat(A ∪ B) exactly —
    the membership analog of the sketch-family merges)."""
    return (
        doc_shingles(benchmark, k, id_col, text_col)
        .select("shingle")
        .distinct()
    )


def merge_gram_catalogs(*catalogs: DataFrame) -> DataFrame:
    """Catalog of the union benchmark suite: set union of per-suite
    gram catalogs — exact mergeability (distinct of a union of
    distincts)."""
    if not catalogs:
        raise ValueError("need at least one gram catalog")
    out = catalogs[0]
    for other in catalogs[1:]:
        out = out.unionByName(other)
    return out.distinct()


def contamination_from_catalog(
    df: DataFrame,
    catalog: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """:func:`contamination_stats` against a PERSISTED gram catalog
    (the incremental form: new crawl batch vs the merged catalog of
    every benchmark suite ingested so far). ``k`` must equal the
    catalog's shingle length — grams of a different length can never
    match and everything would silently read clean, so the catalog
    side ENFORCES it in-plan (ADVICE r7): every catalog shingle is
    asserted to have exactly ``k`` space-joined tokens while the
    broadcast relation is built — zero extra jobs, and a stale or
    mis-parameterized catalog fails loudly instead of passing."""
    sh = doc_shingles(df, k, id_col, text_col)
    # the assertion rides the _hit payload column, NOT the join key:
    # wrapping the key itself changed the projection's statistics and
    # degraded the downstream per-doc join in the static plan
    # (pinned by tests/test_plans.py)
    hit_checked = F.when(
        F.size(F.split(F.col("shingle"), F.lit(" "), F.lit(-1))) != F.lit(k),
        F.raise_error(
            F.concat(
                F.lit(
                    f"contamination_from_catalog: catalog shingle is not a "
                    f"{k}-gram (k mismatch between catalog and query): "
                ),
                F.col("shingle"),
            ).cast("string"),
        ).cast("int"),
    ).otherwise(F.lit(1))
    marked = sh.join(
        F.broadcast(
            catalog.select("shingle").withColumn("_hit", hit_checked)
        ),
        "shingle",
        "left",
    )
    per_doc = marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kgrams"),
        F.count("_hit").alias("n_contaminated"),
    )
    all_docs = df.select(F.col(id_col).alias("doc_id")).distinct()
    return (
        all_docs.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_kgrams"), F.lit(0)).cast("bigint").alias(
                "n_kgrams"
            ),
            F.coalesce(F.col("n_contaminated"), F.lit(0))
            .cast("bigint")
            .alias("n_contaminated"),
            F.when(
                F.coalesce(F.col("n_kgrams"), F.lit(0)) > 0,
                F.col("n_contaminated") / F.col("n_kgrams").cast("double"),
            ).alias("contamination_frac"),
        )
    )


def contamination_by_benchmark(
    df: DataFrame,
    benchmark: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """Contamination ATTRIBUTION: ``(doc_id, bench_doc,
    n_overlap_kgrams)`` — which benchmark document each contaminated
    span came from, one row per (training doc, benchmark doc) pair
    with >= 1 shared k-gram occurrence. The per-benchmark
    decontamination report :func:`contamination_stats` cannot give
    (its broadcast set is anonymous): summing ``n_overlap_kgrams``
    over ``bench_doc`` >= that doc's ``n_contaminated`` (a training
    k-gram hitting two benchmark docs counts once per bench doc
    here, once total there).

    Scale shape: identical to ``contamination_stats`` with ONE extra
    key on the broadcast side — the benchmark (shingle, doc) pairs
    are still benchmark-sized (distinct), broadcast under AQE; the
    corpus side is one shingle pass + broadcast join + one groupBy on
    (doc_id, bench_doc)."""
    sh = doc_shingles(df, k, id_col, text_col)
    bsh = (
        doc_shingles(benchmark, k, bench_id_col, bench_text_col)
        .select(F.col("doc_id").alias("bench_doc"), "shingle")
        .distinct()
    )
    return (
        sh.join(F.broadcast(bsh), "shingle")
        .groupBy("doc_id", "bench_doc")
        .agg(F.count(F.lit(1)).alias("n_overlap_kgrams"))
    )


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash over tokens: ``(doc_id, simhash bigint)``.

    Per bit j: sign of sum over tokens of (+1 if bit j of the token
    hash is set else -1). Token hash = first 8 md5 digest bytes,
    little-endian (deterministic across workers and equal to DuckDB's
    ``md5_number_upper``, giving the operator a value-exact SQL twin).

    Arrow-batched numpy: per doc, an (n_tokens x 64) sign matrix via
    unpackbits, summed along axis 0, sign bits repacked. The earlier
    Catalyst bit-arithmetic version ran its aggregate/zip_with lambdas
    interpreted (~13M ops in 8s at sf0.1); this is ~20x faster. No
    shuffle either way.
    """
    import hashlib
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from textalyzer_spark.functions.tokenize import tokenize_text

    def tok_hash64(tok: str) -> int:
        # == DuckDB md5_number_upper(tok): first 8 digest bytes, LE
        return int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "little")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, int] = {}
        for pdf in batches:
            doc_ids, hashes = [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                toks = tokenize_text(text or "")
                doc_ids.append(doc_id)
                if not toks:
                    hashes.append(0)
                    continue
                hs = np.asarray(
                    [cache.setdefault(t, tok_hash64(t)) for t in toks],
                    dtype=np.uint64,
                )
                bits = np.unpackbits(
                    hs.view(np.uint8).reshape(-1, 8)[:, ::-1], axis=1
                ).astype(np.int32)
                sums = (2 * bits - 1).sum(axis=0)
                sign = (sums > 0).astype(np.uint8)
                packed = np.packbits(sign).tobytes()
                hashes.append(
                    int.from_bytes(packed, "big") - (1 << 64)
                    if packed[0] & 0x80
                    else int.from_bytes(packed, "big")
                )
            yield pd.DataFrame({"doc_id": doc_ids, "simhash": hashes})

    id_type = dict(df.dtypes).get(id_col, "string")
    return df.mapInPandas(run, f"doc_id {id_type}, simhash bigint")


def _simhash_chunk_keys(sh: DataFrame, chunks: int) -> DataFrame:
    """``(doc_id, simhash, combo, v1, v2)`` — the Manku combination-
    banding key table from a ``(doc_id, simhash)`` table: 64 bits cut
    into ``chunks`` chunks, one row per PAIR of chunk values (see the
    bucket-degeneracy note in :func:`simhash_near_pairs`). Shared by
    the single-corpus self-join and the incremental catalog join."""
    from itertools import combinations

    width = 64 // chunks
    vals = [
        F.shiftrightunsigned(F.col("simhash"), i * width)
        .bitwiseAND(F.lit((1 << width) - 1).cast("bigint"))
        .alias(f"v{i}")
        for i in range(chunks)
    ]
    combos = list(combinations(range(chunks), 2))
    return sh.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.struct(vals[i].alias("v1"), vals[j].alias("v2"))
                    for i, j in combos
                ]
            )
        ).alias("combo", "cv"),
    ).select("doc_id", "simhash", "combo", "cv.v1", "cv.v2")


def simhash_near_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    sims: DataFrame | None = None,
) -> DataFrame:
    """SimHash near-duplicate pairs with Hamming distance <=
    ``max_hamming`` d: ``(doc_a, doc_b, hamming)``.

    COMBINATION banding (the Manku/WWW'07 block-permutation idea in
    relational form): split 64 bits into ``c = d+2`` chunks — any pair
    within distance d has >= 2 untouched chunks, so it collides on at
    least one PAIR of chunks. Bucket-join on (combo_id, val_i, val_j),
    verify exact distance. Recall-complete, like single-chunk
    pigeonhole banding, but the key is ~2x the bits: on homogeneous
    corpora simhash values CLUSTER (many bits are corpus-constant,
    they're majority votes over shared vocabulary) and single 64/(d+1)
    -bit chunks degenerate to a handful of mega-buckets — measured at
    50k docs: the largest 9-bit chunk bucket held 48k docs (1.3e10
    pair fanout, unrunnable); the 2-chunk keys cut the join 50x.
    C(c,2) combos x n rows of key traffic is the price — linear, and
    cheap next to a quadratic bucket.
    """
    chunks = max_hamming + 2

    # the keyed table feeds both self-join sides; materialize the tiny
    # (doc_id, simhash) table so the python simhash stage runs once.
    # sims= accepts an ALREADY MATERIALIZED (doc_id, simhash) table
    # (component-maintenance path shares one simhash pass)
    sh = (
        sims
        if sims is not None
        else simhash(df, id_col, text_col).localCheckpoint()
    )
    keyed = _simhash_chunk_keys(sh, chunks)
    a, b = keyed.alias("a"), keyed.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.combo") == F.col("b.combo"))
            & (F.col("a.v1") == F.col("b.v1"))
            & (F.col("a.v2") == F.col("b.v2"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("ha"),
            F.col("b.simhash").alias("hb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        pairs.select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )
