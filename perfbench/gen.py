"""Seeded input generators for the benchmark workloads.

Every corpus is a pure function of ``(corpus, seed)``: the same seed
writes byte-identical parquet. The program under test only ever sees
the files written here.

* the ``nested`` corpus (``extract_bulk``):
  ``(doc_id string, spans array<struct<kind,text,media_ref,offset>>)``
  with a Zipf vocabulary larger than the ``count_syllables`` memo, a
  share of non-ASCII documents, 1-4 text spans split at whitespace
  boundaries, a media span after ~20% of text spans and one document
  holding ``LONGEST_TOKEN_SHARE`` of all tokens (at ~300k documents
  of ~120 tokens that is ~1000x the median length; here it is less,
  so the one long document adds skew without setting a stage's time).
* the ``flat`` corpora (``dedup_pipeline`` and its small
  ``dedup_canary``): ``documents.parquet`` with the sf-tier columns
  ``(doc_id, text, lang, source, n_chars)``, exact duplicates,
  near-duplicate clusters and shared multi-line passages aligned to
  the gates' newline-every-8-tokens line synthesis.
"""

from __future__ import annotations

import json
import os
import statistics

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MEMO_SIZE = 1 << 17  # functions.syllables.count_syllables lru_cache size

# lowest ranks of the Zipf vocabulary: English stopwords, so the
# quality gate's stopword signal fires on ordinary documents
STOPWORDS = (
    "the", "a", "of", "and", "to", "in", "is", "it", "that", "for",
    "on", "with", "as", "was", "at", "by", "be", "an", "or",
)
LANG_SHARES = {"en": 0.41, "zh": 0.15, "es": 0.15, "fr": 0.15, "de": 0.14}
LANG_WORDS = {
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "en": ("the", "a", "is", "and", "of", "to", "in", "it"),
    "es": ("el", "la", "los", "es", "y", "de", "que", "un"),
    "fr": ("le", "la", "les", "est", "et", "de", "que", "un"),
    "zh": ("de", "shi", "le", "bu", "wo", "ni", "ta", "men"),
}
N_SOURCES = 20

_ONSETS = "b c d f g h j k l m n p r s t v w z br tr st ch sh th".split()
_VOWELS = "a e i o u y ai ea ou".split()
_CODAS = ["", "", "n", "r", "s", "t", "l"]
# non-ASCII syllables: Latin with diacritics, Greek, Cyrillic, and an
# upper-case Greek sigma so lowering exercises the final-sigma rule
_NA_SYLLABLES = (
    "é è ü ö ä ñ ç ø å ß "
    "λα μο να κη σι το ρε πα "
    "жа ми ко ру на ло пе ст "
    "ΣΑ ΟΣ"
).split()

# --- corpus sizes (documents) -------------------------------------------
SIZES = {"extract_bulk": 3_000, "dedup_pipeline": 1_500, "dedup_canary": 60}
VERSION = 3  # bump when a generator's output changes: it keys the cached inputs
LONGEST_TOKEN_SHARE = 0.003  # tokens of the nested corpus in its longest document
NESTED_VOCAB = 4 * MEMO_SIZE  # Zipf vocabulary of the nested corpus
# Zipf exponent of the nested corpus: flat enough that its few hundred
# thousand tokens hold more distinct words than the memo has entries
NESTED_ZIPF = 0.9
_STREAM = {"extract_bulk": 1, "dedup_pipeline": 2, "dedup_canary": 4}  # seed stream per corpus


def _rng(corpus: str, seed: int) -> np.random.Generator:
    return np.random.default_rng([seed, _STREAM[corpus]])


def _syllable_words(rng: np.random.Generator, n: int, parts: list[str], lo: int, hi: int) -> list[str]:
    """``n`` distinct pseudo-words of ``lo..hi`` syllables, in rng order."""
    out: dict[str, None] = {}
    while len(out) < n:
        k = 2 * (n - len(out)) + 64
        lens = rng.integers(lo, hi + 1, size=k)
        picks = rng.integers(0, len(parts), size=(k, hi))
        for ln, row in zip(lens.tolist(), picks.tolist()):
            out["".join(parts[j] for j in row[:ln])] = None
            if len(out) == n:
                break
    return list(out)


def _ascii_vocab(rng: np.random.Generator, n: int) -> list[str]:
    syl = [o + v + c for o in _ONSETS for v in _VOWELS for c in _CODAS]
    words = _syllable_words(rng, n, syl, 1, 4)
    stop = set(STOPWORDS)
    return list(STOPWORDS) + [w for w in words if w not in stop][: n - len(STOPWORDS)]


def _zipf_ids(rng: np.random.Generator, vocab_size: int, n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, vocab_size + 1, dtype=np.float64) ** s
    cdf = np.cumsum(p)
    cdf /= cdf[-1]
    return np.minimum(np.searchsorted(cdf, rng.random(n)), vocab_size - 1)


def _doc_lengths(rng: np.random.Generator, n: int, median: int, sigma: float, lo: int, hi: int) -> np.ndarray:
    return np.clip(
        np.round(median * np.exp(sigma * rng.standard_normal(n))), lo, hi
    ).astype(np.int64)


def _write(table: pa.Table, path: str, row_group_size: int) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp, row_group_size=row_group_size, compression="snappy")
    os.replace(tmp, path)


# --- nested span corpus ---------------------------------------------------
SPAN_TYPE = pa.struct(
    [("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string()), ("offset", pa.int32())]
)
NESTED_SCHEMA = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(SPAN_TYPE))])
NESTED_FILES = 8


def _token_strings(
    rng: np.random.Generator, lengths: np.ndarray, vocab: list[str], na_vocab: list[str], na_docs: np.ndarray
) -> tuple[list[str], int]:
    """All documents' tokens, concatenated (Zipf draws with sentence
    punctuation and capitals, non-ASCII tokens in ``na_docs``), and the
    number of distinct words drawn."""
    v = len(vocab)
    total = int(lengths.sum())
    ids = _zipf_ids(rng, v, total, NESTED_ZIPF)
    # variants: 0 plain, 1 "word." (sentence end), 2 "Word" (sentence start)
    ends = rng.random(total) < 1 / 14
    starts = np.zeros(total, dtype=bool)
    starts[1:] = ends[:-1]
    variant = np.where(ends, 1, np.where(starts, 2, 0))
    table = vocab + [w + "." for w in vocab] + [w.capitalize() for w in vocab]
    flat = ids + v * variant
    doc_of = np.repeat(np.arange(len(lengths)), lengths)
    na_tok = na_docs[doc_of] & (rng.random(total) < 0.15)
    na_ids = rng.integers(0, len(na_vocab), size=int(na_tok.sum()))
    flat[na_tok] = 3 * v + na_ids
    table += na_vocab
    n_types = len(np.unique(ids[~na_tok])) + len(np.unique(na_ids))
    return np.asarray(table, dtype=object)[flat].tolist(), n_types


def nested_corpus(corpus: str, seed: int, n_docs: int) -> tuple[pa.Table, dict]:
    rng = _rng(corpus, seed)
    vocab = _ascii_vocab(rng, NESTED_VOCAB)
    na_vocab = _syllable_words(rng, 20_000, _NA_SYLLABLES, 2, 4)
    lengths = _doc_lengths(rng, n_docs, 120, 0.5, 8, 1200)
    long_doc = int(rng.integers(n_docs))
    rest = int(lengths.sum() - lengths[long_doc])
    lengths[long_doc] = round(rest * LONGEST_TOKEN_SHARE / (1 - LONGEST_TOKEN_SHARE))
    na_docs = rng.random(n_docs) < 0.10
    tokens, uniq = _token_strings(rng, lengths, vocab, na_vocab, na_docs)
    n_spans = rng.integers(1, 5, size=n_docs)
    media_u = rng.random(4 * n_docs).reshape(n_docs, 4)
    cut_u = rng.random(3 * n_docs).reshape(n_docs, 3)

    doc_ids, spans_col = [], []
    pos = 0
    for i in range(n_docs):
        ln = int(lengths[i])
        words = tokens[pos : pos + ln]
        pos += ln
        k = min(int(n_spans[i]), ln)
        cuts = sorted({1 + int(u * (ln - 1)) for u in cut_u[i, : k - 1]}) if ln > 1 else []
        doc_id = f"{i:07d}"
        spans, prev, off = [], 0, 0
        for j, c in enumerate([*cuts, ln]):
            text = " ".join(words[prev:c]) + (" " if c < ln else "")
            prev = c
            spans.append({"kind": "text", "text": text, "media_ref": None, "offset": off})
            off += 1
            if media_u[i, j] < 0.2:
                spans.append(
                    {"kind": "media", "text": None, "media_ref": f"media://{doc_id}/{off}", "offset": off}
                )
                off += 1
        doc_ids.append(doc_id)
        spans_col.append(spans)
    table = pa.table([pa.array(doc_ids, pa.string()), pa.array(spans_col, pa.list_(SPAN_TYPE))], schema=NESTED_SCHEMA)
    props = {
        "docs": n_docs,
        "tokens": len(tokens),
        "vocab_types": uniq,
        "vocab_types_over_memo": round(uniq / MEMO_SIZE, 4),
        "non_ascii_doc_share": round(float(na_docs.mean()), 4),
        "median_doc_tokens": float(statistics.median(lengths.tolist())),
        "longest_doc_tokens": int(lengths.max()),
        "longest_over_median": round(float(lengths.max() / np.median(lengths)), 1),
        "longest_doc_token_share": round(float(lengths.max() / lengths.sum()), 4),
        "spans": sum(len(s) for s in spans_col),
        "media_spans": sum(1 for s in spans_col for x in s if x["kind"] == "media"),
    }
    return table, props


def write_nested(corpus: str, seed: int, out_dir: str) -> dict:
    """Write the nested corpus as ``NESTED_FILES`` parquet files."""
    table, props = nested_corpus(corpus, seed, SIZES[corpus])
    os.makedirs(out_dir, exist_ok=True)
    n = table.num_rows
    for f in range(NESTED_FILES):
        lo, hi = f * n // NESTED_FILES, (f + 1) * n // NESTED_FILES
        _write(table.slice(lo, hi - lo), os.path.join(out_dir, f"part-{f:02d}.parquet"), 2048)
    props["bytes"] = sum(
        os.path.getsize(os.path.join(out_dir, f)) for f in sorted(os.listdir(out_dir))
    )
    return props


# --- flat dedup corpus ----------------------------------------------------
FLAT_SCHEMA = pa.schema(
    [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()), ("source", pa.string()), ("n_chars", pa.int64())]
)


def flat_corpus(corpus: str, seed: int, n_docs: int) -> tuple[pa.Table, dict]:
    """``n_docs`` flat documents: ~10% exact duplicates, ~20%
    near-duplicates (clusters of 2-8, 5-10% of tokens substituted),
    ~15% of the rest carrying one shared 3-6 line passage, ~10% of the
    rest low-quality."""
    rng = _rng(corpus, seed)
    vocab = _ascii_vocab(rng, 20_000)
    langs = list(LANG_SHARES)
    p_lang = np.array(list(LANG_SHARES.values()))
    p_lang /= p_lang.sum()

    def fresh(n_tok: int, lang: str) -> list[str]:
        toks = [vocab[j] for j in _zipf_ids(rng, len(vocab), n_tok, 1.05).tolist()]
        marks = LANG_WORDS[lang]
        for j in np.flatnonzero(rng.random(n_tok) < 0.08).tolist():
            toks[j] = marks[int(rng.integers(len(marks)))]
        return toks

    passages = [
        [vocab[j] for j in rng.integers(100, len(vocab), size=8 * int(rng.integers(3, 7))).tolist()]
        for _ in range(40)
    ]
    n_exact = n_docs // 10
    n_near = n_docs // 5
    n_base = n_docs - n_exact - n_near
    rows: list[tuple[list[str], str]] = []
    kinds: list[str] = []
    for _ in range(n_base):
        lang = str(rng.choice(langs, p=p_lang))
        u = rng.random()
        if u < 0.07:  # low quality: a few tokens repeated, no stopwords
            pool = [vocab[j] for j in rng.integers(1000, len(vocab), size=3).tolist()]
            toks = [pool[int(k)] for k in rng.integers(0, 3, size=int(rng.integers(20, 80)))]
            kinds.append("low_quality")
        elif u < 0.10:  # too short for the length band
            toks = fresh(int(rng.integers(3, 10)), lang)
            kinds.append("short")
        else:
            toks = fresh(int(_doc_lengths(rng, 1, 72, 0.45, 16, 400)[0]), lang)
            kinds.append("base")
        if kinds[-1] == "base" and rng.random() < 0.15:
            at = 8 * int(rng.integers(0, len(toks) // 8 + 1))
            toks = toks[:at] + passages[int(rng.integers(len(passages)))] + toks[at:]
            kinds[-1] = "passage"
        rows.append((toks, lang))
    # near-duplicate clusters: each seeds from a fresh base-quality doc
    made = 0
    while made < n_near:
        size = min(int(rng.integers(2, 9)), n_near - made + 1)
        lang = str(rng.choice(langs, p=p_lang))
        root = fresh(int(_doc_lengths(rng, 1, 72, 0.45, 24, 400)[0]), lang)
        rows.append((root, lang))
        kinds.append("near_root")
        for _ in range(size - 1):
            toks = list(root)
            rate = 0.05 + 0.05 * rng.random()
            for j in np.flatnonzero(rng.random(len(toks)) < rate).tolist():
                toks[j] = vocab[int(rng.integers(len(vocab)))]
            rows.append((toks, lang))
            kinds.append("near")
        made += size
    bases = [i for i, k in enumerate(kinds) if k in ("base", "passage")]
    for j in rng.choice(len(bases), size=n_docs - len(rows), replace=True).tolist():
        rows.append(rows[bases[j]])
        kinds.append("exact")
    order = rng.permutation(len(rows))
    texts = [" ".join(rows[i][0]) for i in order.tolist()]
    lang_col = [rows[i][1] for i in order.tolist()]
    sources = [f"src{int(s)}" for s in rng.integers(0, N_SOURCES, size=len(rows)).tolist()]
    table = pa.table(
        [
            pa.array(np.arange(len(rows), dtype=np.int64)),
            pa.array(texts, pa.string()),
            pa.array(lang_col, pa.string()),
            pa.array(sources, pa.string()),
            pa.array([len(t) for t in texts], pa.int64()),
        ],
        schema=FLAT_SCHEMA,
    )
    counts = {k: kinds.count(k) for k in sorted(set(kinds))}
    lens = [len(r[0]) for r in rows]
    props = {
        "docs": len(rows),
        "tokens": sum(lens),
        "vocab_types": len({t for r in rows for t in r[0]}),
        "median_doc_tokens": float(statistics.median(lens)),
        "longest_doc_tokens": max(lens),
        "exact_dup_share": round(counts.get("exact", 0) / len(rows), 4),
        "near_dup_share": round((counts.get("near", 0) + counts.get("near_root", 0)) / len(rows), 4),
        "passage_doc_share": round(counts.get("passage", 0) / len(rows), 4),
        "low_quality_share": round((counts.get("low_quality", 0) + counts.get("short", 0)) / len(rows), 4),
        "lang_mix": {k: round(lang_col.count(k) / len(rows), 4) for k in langs},
    }
    return table, props


def write_flat(corpus: str, seed: int, out_dir: str) -> dict:
    """Write ``documents.parquet`` (one file, as the sf tiers ship it)."""
    table, props = flat_corpus(corpus, seed, SIZES[corpus])
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "documents.parquet")
    _write(table, path, 512)
    props["bytes"] = os.path.getsize(path)
    return props


def add_properties(out_dir: str, props: dict, **extra) -> None:
    """Record properties measured after generation (e.g. with Spark)."""
    props.update(extra)
    path = os.path.join(out_dir, "properties.json")
    with open(path + ".tmp", "w") as f:
        json.dump(props, f, indent=1, sort_keys=True)
    os.replace(path + ".tmp", path)


def generate(corpus: str, seed: int, out_dir: str) -> dict:
    """Write ``corpus`` for ``seed`` to ``out_dir/data`` (once) and
    return its input properties, recorded in ``out_dir/properties.json``."""
    props_path = os.path.join(out_dir, "properties.json")
    if os.path.exists(props_path):
        with open(props_path) as f:
            return json.load(f)
    data_dir = os.path.join(out_dir, "data")
    if corpus in ("dedup_pipeline", "dedup_canary"):
        props = write_flat(corpus, seed, data_dir)
    else:
        props = write_nested(corpus, seed, data_dir)
    add_properties(out_dir, props, corpus=corpus, seed=seed, memo_size=MEMO_SIZE)
    return props
