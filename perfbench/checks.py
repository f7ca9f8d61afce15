"""Output checks. Each function returns the number of checked items
that are wrong, so a run can report ``output_mismatches``.

Expected values come from the program's plain-Python reference
functions (``tokenize_text``, ``count_syllables``), a ``Counter``, the
generator's own ground truth, and each gate's DuckDB ``oracle_sql()``
twin. They are computed outside the timed span and cached under the
run's work directory, keyed by workload and seed.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import re
import subprocess
import sys
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq

GATES = ("pipeline_clean_sample", "incremental_keep_quality", "duplicate_blocks_resolved")
WORDS_PER_LINE = 8  # the gates' newline-every-8-tokens line synthesis


# --- nested corpora (extract_bulk, resume_write) --------------------------
def doc_text(spans: list[dict]) -> str:
    return "".join(s["text"] for s in spans if s["kind"] == "text")


SPAN_METRICS = ("n_text_spans", "n_media_spans", "n_tokens", "n_syllables")
# integer inputs of operators.readability; its three scores follow from them
READ_COUNTS = ("n_words", "n_sentences", "n_syllables", "n_distinct_words")


def readability_scores(n_words: int, n_sentences: int, n_syllables: int, n_distinct: int) -> tuple:
    """``(type_token_ratio, flesch_reading_ease, fk_grade)`` by the
    published formulas, as ``operators.readability`` computes them."""
    if n_words == 0:
        return None, None, None
    w, s, y = float(n_words), float(n_sentences), float(n_syllables)
    return (
        round(n_distinct / w, 4),
        round(206.835 - 1.015 * (w / s) - 84.6 * (y / w), 4),
        round(0.39 * (w / s) + 11.8 * (y / w) - 15.59, 4),
    )


def nested_expected(table: pa.Table, cache_dir: str) -> tuple[dict, dict, Counter]:
    """From the plain-Python tokenizer and syllable counter, per doc:
    ``{doc_id: (n_text_spans, n_media_spans, n_tokens, n_syllables)}``
    and the readability counts ``{doc_id: (n_words, n_sentences,
    n_syllables, n_distinct_words)}`` (sentences: non-blank segments
    between runs of ``.!?``, at least 1); and the corpus word histogram."""
    docs_path = os.path.join(cache_dir, "docs.parquet")
    hist_path = os.path.join(cache_dir, "hist.parquet")
    if os.path.exists(hist_path):
        d = pq.read_table(docs_path).to_pydict()
        h = pq.read_table(hist_path).to_pydict()
        docs = dict(zip(d["doc_id"], zip(*(d[c] for c in SPAN_METRICS))))
        read = dict(zip(d["doc_id"], zip(*(d["r_" + c] for c in READ_COUNTS))))
        return docs, read, Counter(dict(zip(h["word"], h["count"])))
    from textalyzer_spark.functions.syllables import count_syllables
    from textalyzer_spark.functions.tokenize import tokenize_text

    docs, read, hist = {}, {}, Counter()
    for doc_id, spans in zip(table.column("doc_id").to_pylist(), table.column("spans").to_pylist()):
        n_text = sum(1 for s in spans if s["kind"] == "text")
        text = doc_text(spans)
        toks = tokenize_text(text)
        hist.update(toks)
        n_syl = sum(count_syllables(t) for t in toks)
        docs[doc_id] = (n_text, len(spans) - n_text, len(toks), n_syl)
        n_sent = max(1, sum(1 for seg in re.split(r"[.!?]+", text) if seg.strip(" ")))
        read[doc_id] = (len(toks), n_sent, n_syl, len(set(toks)))
    os.makedirs(cache_dir, exist_ok=True)
    ids = list(docs)
    cols = {n: list(c) for n, c in zip(SPAN_METRICS, zip(*docs.values()))}
    cols.update({"r_" + n: list(c) for n, c in zip(READ_COUNTS, zip(*read.values()))})
    pq.write_table(pa.table({"doc_id": ids, **cols}), docs_path)
    words = sorted(hist)
    pq.write_table(pa.table({"word": words, "count": [hist[w] for w in words]}), hist_path + ".tmp")
    os.replace(hist_path + ".tmp", hist_path)
    return docs, read, hist


def check_readability(out: pa.Table, expected: dict) -> int:
    """Per doc of ``span_readability``'s output: present exactly once,
    counts equal to the plain-Python reference, scores within the last
    rounded digit (Spark rounds half up, Python half to even)."""
    seen: Counter = Counter()
    bad = 0
    names = ("doc_id", *READ_COUNTS, "type_token_ratio", "flesch_reading_ease", "fk_grade")
    for doc_id, *vals in zip(*(out.column(c).to_pylist() for c in names)):
        seen[doc_id] += 1
        if seen[doc_id] > 1 or doc_id not in expected:
            continue
        want = expected[doc_id]
        scores = readability_scores(*want)
        ok = tuple(vals[:4]) == tuple(want) and all(
            (g is None) == (e is None) and (g is None or abs(g - e) <= 1.01e-4) for g, e in zip(vals[4:], scores)
        )
        bad += int(not ok)
    bad += sum(n - 1 for n in seen.values())  # duplicated docs
    bad += sum(1 for d in seen if d not in expected)  # docs not in the input
    bad += sum(1 for d in expected if d not in seen)  # lost docs
    return bad


def check_span_output(out: pa.Table, inp: pa.Table, expected: dict) -> int:
    """Per doc: present exactly once, span sequence ``(kind, text,
    media_ref, order)`` equal to the input, and metrics equal to the
    plain-Python reference."""
    in_spans = dict(zip(inp.column("doc_id").to_pylist(), inp.column("spans").to_pylist()))
    seen: Counter = Counter()
    bad = 0
    cols = [out.column(c).to_pylist() for c in ("doc_id", "spans", *SPAN_METRICS)]
    for doc_id, spans, *metrics in zip(*cols):
        seen[doc_id] += 1
        if seen[doc_id] > 1:
            continue
        if doc_id not in expected or spans != in_spans[doc_id] or tuple(metrics) != tuple(expected[doc_id]):
            bad += 1
    bad += sum(n - 1 for n in seen.values())  # duplicated docs
    bad += sum(1 for d in expected if d not in seen)  # lost docs
    return bad


def check_histogram(rows: list[tuple[str, int]], expected: Counter) -> int:
    """Word counts equal the ``Counter``; rows ordered count desc, word asc."""
    got = dict(rows)
    bad = sum(1 for w, c in expected.items() if got.get(w) != c)
    bad += sum(1 for w in got if w not in expected)
    bad += len(rows) - len(got)
    keys = [(-c, w) for w, c in rows]
    bad += int(keys != sorted(keys))
    return bad


# --- dedup gates ----------------------------------------------------------
def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6g}"
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    return v


def gate_rows(columns: list[str], rows) -> list[list]:
    """Order-insensitive canonical form: columns sorted by name, floats
    to 6 significant digits, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(([_norm(r[i]) for i in order] for r in rows), key=json.dumps)


def oracle_expected(data_dir: str, cache_path: str) -> dict[str, dict]:
    """Each gate's DuckDB ``oracle_sql()`` result over ``data_dir``,
    computed once in a child process (so DuckDB's threads and memory
    are gone before Spark starts) and cached at ``cache_path``."""
    if not os.path.exists(cache_path):
        os.makedirs(os.path.dirname(cache_path), exist_ok=True)
        subprocess.run([sys.executable, __file__, data_dir, cache_path], check=True)
    with open(cache_path) as f:
        return json.load(f)


def _write_oracle(data_dir: str, cache_path: str) -> None:
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        con.sql(f"SET temp_directory = '{os.path.join(os.path.dirname(cache_path), 'duckdb-tmp')}'")
        con.sql("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{os.path.join(data_dir, 'documents.parquet')}')")
        out = {}
        for g in GATES:
            rel = con.sql(sql[g])
            out[g] = {"columns": sorted(rel.columns), "rows": gate_rows(rel.columns, rel.fetchall())}
    finally:
        con.close()
    with open(cache_path + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(cache_path + ".tmp", cache_path)


def check_gate_rows(columns: list[str], rows: list[list], expected: dict) -> int:
    """Multiset difference against the oracle; wrong columns count once
    per expected row."""
    if sorted(columns) != expected["columns"]:
        return max(1, len(expected["rows"]))
    got = Counter(json.dumps(r) for r in rows)
    want = Counter(json.dumps(r) for r in expected["rows"])
    return sum(((got - want) + (want - got)).values())


def fingerprint(rows: list[list]) -> str:
    return hashlib.md5(json.dumps(rows).encode()).hexdigest()


def check_gate_invariants(gate: str, rows: list[dict], docs: dict[int, str]) -> int:
    """Properties every correct output has on the generated corpus,
    checked without an oracle (the DuckDB twins are too slow at the
    timed corpus size)."""
    bad = 0
    if gate == "pipeline_clean_sample":
        ids = [r["doc_id"] for r in rows]
        bad += len(ids) - len(set(ids)) + sum(1 for d in ids if d not in docs)
        # exact dedup: no two kept documents share a text
        texts = Counter(docs[d] for d in set(ids) if d in docs)
        bad += sum(n - 1 for n in texts.values())
    elif gate == "incremental_keep_quality":
        ids = Counter(r["doc_id"] for r in rows)
        bad += sum(n - 1 for n in ids.values()) + sum(1 for d in docs if d not in ids)
        keeps = Counter(r["component"] for r in rows if r["keep"])
        comps = {r["component"] for r in rows}
        bad += sum(1 for c in comps if keeps.get(c) != 1)
        # identical texts are one near-duplicate component
        comp_of = {r["doc_id"]: r["component"] for r in rows}
        by_text: dict[str, set] = {}
        for d, t in docs.items():
            by_text.setdefault(t, set()).add(comp_of.get(d))
        bad += sum(len(c) - 1 for c in by_text.values())
    elif gate == "duplicate_blocks_resolved":
        # each location's synthesized lines spell the block's content
        locs: Counter = Counter()
        for r in rows:
            words = docs.get(r["doc_id"], "").split(" ")
            lines = [" ".join(words[i : i + WORDS_PER_LINE]) for i in range(0, len(words), WORDS_PER_LINE)]
            k = r["content"].count("\n") + 1
            lo = r["line"] - 1
            bad += int(lo < 0 or "\n".join(lines[lo : lo + k]) != r["content"])
            locs[r["content"]] += 1
        bad += sum(1 for n in locs.values() if n < 2)
    return bad


if __name__ == "__main__":
    # child process of oracle_expected: python3 checks.py DATA_DIR CACHE_PATH
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    _write_oracle(sys.argv[1], sys.argv[2])
