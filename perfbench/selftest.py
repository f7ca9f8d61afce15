"""Self-test of the output checks: each corrupted output must be counted
as exactly the number of mismatches planted in it, and the metric
names in ``BENCHMARK.json`` must be the ones ``run.py`` prints.

    python3 perfbench/run.py --self-test
"""

from __future__ import annotations

import json
import os

import pyarrow as pa

import checks
import gen


def _span_output(table: pa.Table, expected: dict) -> pa.Table:
    ids = table.column("doc_id").to_pylist()
    cols = list(zip(*(expected[d] for d in ids)))
    return pa.table({"doc_id": ids, "spans": table.column("spans"), **{n: list(c) for n, c in zip(checks.SPAN_METRICS, cols)}})


def _readability_output(table: pa.Table, read: dict) -> pa.Table:
    ids = table.column("doc_id").to_pylist()
    rows = [
        dict(zip(("doc_id", *checks.READ_COUNTS), (d, *read[d])))
        | dict(zip(("type_token_ratio", "flesch_reading_ease", "fk_grade"), checks.readability_scores(*read[d])))
        for d in ids
    ]
    return pa.Table.from_pylist(rows)


def cases(work: str):
    """``(name, mismatches counted, mismatches planted)``."""
    table, _ = gen.nested_corpus("extract_bulk", 1, 300)
    expected, read, hist = checks.nested_expected(table, os.path.join(work, "selftest", f"expected-v{gen.VERSION}"))
    good = _span_output(table, expected)
    yield "spans: correct output", checks.check_span_output(good, table, expected), 0

    rows = good.to_pylist()
    rows[3]["n_tokens"] += 1  # wrong metric
    rows[5]["spans"] = [dict(rows[5]["spans"][0], text="changed ")] + rows[5]["spans"][1:]
    rows.append(dict(rows[7]))  # duplicated doc
    del rows[9]  # lost doc
    bad = pa.Table.from_pylist(rows, schema=good.schema)
    yield "spans: metric, span text, duplicate, loss", checks.check_span_output(bad, table, expected), 4

    good_read = _readability_output(table, read)
    yield "readability: correct output", checks.check_readability(good_read, read), 0
    rows = good_read.to_pylist()
    rows[2]["n_sentences"] += 1  # wrong count
    rows[4]["fk_grade"] += 0.01  # wrong score
    rows.append(dict(rows[6]))  # duplicated doc
    del rows[8]  # lost doc
    bad = pa.Table.from_pylist(rows, schema=good_read.schema)
    yield "readability: count, score, duplicate, loss", checks.check_readability(bad, read), 4

    ordered = sorted(hist.items(), key=lambda wc: (-wc[1], wc[0]))
    yield "histogram: correct output", checks.check_histogram(ordered, hist), 0
    wrong = list(ordered)
    wrong[0] = (wrong[0][0], wrong[0][1] + 1)  # wrong count (still the largest)
    wrong[1], wrong[2] = wrong[2], wrong[1]  # out of order
    del wrong[-1]  # lost word
    yield "histogram: count, order, loss", checks.check_histogram(wrong, hist), 3

    expected_gate = {"columns": ["a", "b"], "rows": checks.gate_rows(["a", "b"], [(1, 0.5), (2, 0.25), (3, 1.0)])}
    rows = checks.gate_rows(["b", "a"], [(0.5, 1), (0.25, 2), (1.0, 3)])
    yield "gate: correct output, other column order", checks.check_gate_rows(["b", "a"], rows, expected_gate), 0
    rows = checks.gate_rows(["b", "a"], [(0.5, 1), (0.75, 2)])
    yield "gate: changed row, lost row", checks.check_gate_rows(["b", "a"], rows, expected_gate), 3

    docs = {1: "a b c", 2: "a b c", 3: "d e f"}
    yield "pipeline: exact duplicate kept twice", checks.check_gate_invariants(
        "pipeline_clean_sample", [{"doc_id": 1}, {"doc_id": 2}, {"doc_id": 3}], docs), 1
    keep = [{"doc_id": 1, "component": 1, "keep": True}, {"doc_id": 2, "component": 2, "keep": True},
            {"doc_id": 3, "component": 3, "keep": True}]
    yield "keep_quality: exact duplicates split", checks.check_gate_invariants("incremental_keep_quality", keep, docs), 1
    words = " ".join(f"w{i}" for i in range(24))
    block = {"content": "w8 w9 w10 w11 w12 w13 w14 w15\nw16 w17 w18 w19 w20 w21 w22 w23"}
    locs = [dict(block, doc_id=1, line=2), dict(block, doc_id=2, line=1)]
    yield "duplicate_blocks: wrong line", checks.check_gate_invariants(
        "duplicate_blocks_resolved", locs, {1: words, 2: words}), 1


def main(work: str, root: str, end_to_end: dict, per_layer: dict, workloads) -> int:
    ok = True
    for name, got, want in cases(work):
        ok &= got == want
        print(f"{'ok  ' if got == want else 'FAIL'} {name}: counted {got}, planted {want}")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for key, names in (("end_to_end", end_to_end), ("per_layer", per_layer)):
        declared = {m["name"]: m["unit"] for m in bench[key]}
        same = declared == names
        ok &= same
        print(f"{'ok  ' if same else 'FAIL'} BENCHMARK.json {key} names and units match run.py")
    same = sorted(w["name"] for w in bench["workloads"]) == sorted(workloads)
    ok &= same
    print(f"{'ok  ' if same else 'FAIL'} BENCHMARK.json workloads match run.py")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit("run through: python3 perfbench/run.py --self-test")
