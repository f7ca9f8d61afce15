"""Duplicate line / block detection.

Reference: /root/reference/textalyzer/src/duplication.rs —
``find_duplicate_lines`` (:10-40, single-line mode) and
``find_multi_line_duplications`` (:52-339, block mode) plus the
post-filter in lib.rs:114-131.

The reference grows blocks by pairwise sequential extension from each
duplicate seed line (duplication.rs:141-254). That is O(pairs x
run-length) pointer-chasing — not expressible (or desirable) in a
distributed plan. We recover identical results with a relational
formulation (BASELINE.json north_star: "n-gram shingling with
rolling-hash duplicate detection"):

1. explode lines, index duplicate trimmed lines (the reference's
   line_index, :85-125) — groupBy + HAVING count>1;
2. self-join the duplicate-line occurrences on trimmed content →
   matching line pairs (the seed x other-location loop, :152-160);
3. gaps-and-islands over (doc_a, doc_b, line_delta) recovers each
   MAXIMAL consecutive matching run — replacing the sequential
   extension scan (:174-185) with one window function;
4. each run emits a candidate per side whose first line carries no
   leading/trailing whitespace (the reference's quirk: the raw first
   line must equal a trimmed index key, :144-149 — blocks indented at
   every occurrence are invisible, test_duplication_ignores_indentation
   relies on this); content = that side's raw lines dedented by the
   common min leading whitespace (:194-218); both endpoints'
   locations are recorded under that content (:220-233);
5. greedy overlap resolution in pinned total order (:277-336), then
   the min_lines non-empty filter (lib.rs:120-129).

Pinned-order deviations from the reference (FIXTURES.md §3): ties in
the block sort are resolved content-asc and locations are claimed in
(doc_id, line) order — the reference is HashMap-nondeterministic on
both; that is the only remaining deviation. Suffix-candidate
emission (the reference's every-duplicate-start scan) is available
behind ``emit_suffixes=True`` (default off — the L-fold
amplification only matters under pathological partial claims,
:func:`_suffix_runs`). Empty-line run extension (the reference's
extension matches empty-to-empty) is replicated since round 3:
same-delta runs bridge across both-sides-empty gaps and extend over
trailing empty-empty lines (:func:`_maximal_runs`).

Scale notes: steps 1-4 are plain shuffles on content keys — AQE
handles skew (a pathologically common line, e.g. "}", fans out into a
large self-join; mitigate upstream with a frequency cap, see
``max_locations_per_line``). Step 5 is sequential by definition
(greedy over a total order); candidates are only the duplicated
blocks, orders of magnitude smaller than the corpus. It runs in a
single ``applyInPandas`` group; at 100 TB, partition candidates by
connected component of the doc-overlap graph first — blocks in
disjoint components cannot contend for positions.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from textalyzer_spark.operators.lines import explode_lines

def _loc_schema(df: DataFrame, id_col: str) -> str:
    """locations element type follows the input's doc_id type — a
    hardcoded string schema raises ArrowTypeError on bigint doc_ids
    (the driver's flat table uses int64 ids; fixtures use strings)."""
    id_type = dict(df.dtypes).get(id_col, "string")
    return f"array<struct<doc_id:{id_type},line:int>>"



def duplicate_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_bytes: int = 6,
) -> DataFrame:
    """Single-line duplication (reference duplication.rs:10-40).

    ``(content, locations array<struct<doc_id,line>>, n_locations)``
    ordered trimmed-byte-length desc (reference :33-37), content asc
    (pinned tiebreak). Lines kept iff trimmed byte length > 5.
    """
    lines = explode_lines(df, id_col, text_col)
    return (
        lines.filter(F.octet_length("trimmed") >= min_bytes)
        .groupBy(F.col("trimmed").alias("content"))
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("doc_id"), F.col("line_number").alias("line")))
            ).alias("locations"),
            F.count(F.lit(1)).alias("n_locations"),
        )
        .filter(F.col("n_locations") > 1)
        .orderBy(F.desc(F.octet_length("content")), F.asc("content"))
    )


def _matching_line_pairs(lines: DataFrame, max_locations_per_line: int | None) -> DataFrame:
    """Unordered pairs of distinct locations sharing a trimmed line."""
    ne = lines.filter(F.col("trimmed") != "").select("doc_id", "line_number", "trimmed")
    counts = ne.groupBy("trimmed").agg(F.count(F.lit(1)).alias("n")).filter(F.col("n") > 1)
    if max_locations_per_line is not None:
        # skew guard: a token line like "}" occurring 10^6 times would
        # create 10^12 pairs; cap participation (documented deviation)
        counts = counts.filter(F.col("n") <= max_locations_per_line)
    dup = ne.join(counts.select("trimmed"), "trimmed")
    a, b = dup.alias("a"), dup.alias("b")
    return (
        a.join(b, F.col("a.trimmed") == F.col("b.trimmed"))
        .filter(
            (F.col("a.doc_id") < F.col("b.doc_id"))
            | (
                (F.col("a.doc_id") == F.col("b.doc_id"))
                & (F.col("a.line_number") < F.col("b.line_number"))
            )
        )
        .select(
            F.col("a.doc_id").alias("da"),
            F.col("a.line_number").alias("la"),
            F.col("b.doc_id").alias("db"),
            F.col("b.line_number").alias("lb"),
        )
    )


def _empty_runs(lines: DataFrame) -> DataFrame:
    """``(doc_id, start_line, run_len)`` — maximal runs of
    trimmed-empty lines per document. Backs the empty-line run
    extension below. Only EMPTY lines enter the window shuffle (a
    vanishing fraction of the corpus); and since a matching run ends
    on a non-empty line, its end+1 can only ever be the START of an
    empty run, so an equi-join on ``start_line`` recovers exactly the
    "empties ahead" count the extension needs."""
    we = Window.partitionBy("doc_id").orderBy("line_number")
    return (
        lines.filter(F.col("trimmed") == "")
        .withColumn("isl", F.col("line_number") - F.row_number().over(we))
        .groupBy("doc_id", "isl")
        .agg(
            F.min("line_number").alias("start_line"),
            F.count(F.lit(1)).cast("int").alias("run_len"),
        )
        .drop("isl")
    )


def _maximal_runs(
    pairs: DataFrame, lines: DataFrame, docs: DataFrame | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Gaps-and-islands maximal runs per doc pair, with the
    reference's EMPTY-LINE extension (duplication.rs:174-185 matches
    trimmed equality, so empty==empty keeps extending): two same-delta
    runs separated only by lines empty in BOTH documents merge into
    one, and a run extends over trailing empty-empty lines
    (min of both sides' empty-run lengths). Relational form: a second
    gaps-and-islands over the run table keyed by
    "gap covered by both sides' empty_ahead" instead of a sequential
    rescan — the merge table is runs, not lines, so this costs one
    tiny extra window.

    The whole merge/extension pass is GUARDED, two levels: bridging
    and trailing extension both add least(ea_next, eb_next) lines, so
    they can only change a run when that SAME run has an empty line
    at end_a+1 in doc A AND at end_b+1 in doc B.

    * Level 1 (``docs`` provided): one document-level ``rlike`` for
      any whitespace-only line — a conservative SUPERSET of
      trimmed=='' (F.trim strips spaces only; the class adds \\t \\f
      \\x0B \\r, so a false positive only costs the level-2 probe,
      never correctness). A corpus with no such line — most code/prose
      corpora, including the driver tables — skips everything below,
      keeping the plan fully lazy with zero extra materialization.
    * Level 2: an adjacency probe on the materialized run table (two
      equi-joins against the exact empty-line set) decides whether the
      empty-run window, both left joins, and the merge window actually
      run (the round-3 unconditional pass cost ~0.5-0.9 s at sf0.1 for
      nothing on empty-free corpora).

    Both probes are ``isEmpty()`` (a CollectLimit take), not
    ``limit(1).count()``: a codegen'd LocalLimit names its counter
    field from a JVM-global sequence, so its class never hits the
    codegen cache and was re-compiled on every call (4 classes per
    ``duplicate_blocks_resolved`` call, BENCH.md "codegen cache")."""
    if docs is not None:
        ws_line = docs.filter(
            F.col(text_col).rlike(r"(?m)^[ \t\f\x0B\r]*$")
        )
        if ws_line.isEmpty():
            w0 = Window.partitionBy("da", "db", "delta").orderBy("la")
            return (
                pairs.withColumn("delta", F.col("la") - F.col("lb"))
                .withColumn("island", F.col("la") - F.row_number().over(w0))
                .groupBy("da", "db", "delta", "island")
                .agg(
                    F.min("la").alias("start_a"),
                    F.min("lb").alias("start_b"),
                    F.count(F.lit(1)).cast("int").alias("n_lines"),
                )
                .select("da", "db", "start_a", "start_b", "n_lines")
            )
    w = Window.partitionBy("da", "db", "delta").orderBy("la")
    base = (
        pairs.withColumn("delta", F.col("la") - F.col("lb"))
        .withColumn("island", F.col("la") - F.row_number().over(w))
        .groupBy("da", "db", "delta", "island")
        .agg(
            F.min("la").alias("start_a"),
            F.min("lb").alias("start_b"),
            F.count(F.lit(1)).alias("n_seed"),
        )
        .withColumn("end_a", F.col("start_a") + F.col("n_seed") - 1)
        .withColumn("end_b", F.col("start_b") + F.col("n_seed") - 1)
    )
    # materialize the (small) run table once: the probe reads it and,
    # on the merge path, the downstream pipeline reuses it
    base = base.localCheckpoint()
    emp = lines.filter(F.col("trimmed") == "").select("doc_id", "line_number")
    probe = (
        base.join(
            emp.select(
                F.col("doc_id").alias("da"),
                (F.col("line_number") - 1).alias("end_a"),
            ),
            ["da", "end_a"],
        )
        .join(
            emp.select(
                F.col("doc_id").alias("db"),
                (F.col("line_number") - 1).alias("end_b"),
            ),
            ["db", "end_b"],
        )
    )
    if probe.isEmpty():
        return base.select(
            "da",
            "db",
            "start_a",
            "start_b",
            F.col("n_seed").cast("int").alias("n_lines"),
        )
    er = _empty_runs(lines)
    a_side = er.select(
        F.col("doc_id").alias("da"),
        F.col("start_line").alias("_a_next"),
        F.col("run_len").alias("ea_next"),
    )
    b_side = er.select(
        F.col("doc_id").alias("db"),
        F.col("start_line").alias("_b_next"),
        F.col("run_len").alias("eb_next"),
    )
    base = (
        base.withColumn("_a_next", F.col("end_a") + 1)
        .withColumn("_b_next", F.col("end_b") + 1)
        .join(a_side, ["da", "_a_next"], "left_outer")
        .join(b_side, ["db", "_b_next"], "left_outer")
        .drop("_a_next", "_b_next")
        .withColumn("ea_next", F.coalesce("ea_next", F.lit(0)))
        .withColumn("eb_next", F.coalesce("eb_next", F.lit(0)))
    )
    wm = Window.partitionBy("da", "db", "delta").orderBy("start_a")
    wms = wm.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap = F.col("start_a") - F.lag("end_a").over(wm) - 1
    bridged = gap.isNotNull() & (
        gap <= F.least(F.lag("ea_next").over(wm), F.lag("eb_next").over(wm))
    )
    return (
        base.withColumn("brk", F.when(bridged, 0).otherwise(1))
        .withColumn("mgrp", F.sum("brk").over(wms))
        .groupBy("da", "db", "delta", "mgrp")
        .agg(
            F.min("start_a").alias("start_a"),
            F.min("start_b").alias("start_b"),
            (
                F.max("end_a")
                - F.min("start_a")
                + 1
                + F.least(
                    F.max_by("ea_next", "end_a"), F.max_by("eb_next", "end_a")
                )
            )
            .cast("int")
            .alias("n_lines"),
        )
        .drop("delta", "mgrp")
    )


def _suffix_runs(runs: DataFrame, lines: DataFrame) -> DataFrame:
    """Reference suffix emission (duplication.rs:141-165 starts a
    scan at EVERY duplicate non-empty line, so each maximal run also
    yields a candidate per non-empty interior start): explode each
    run into its suffixes, keeping those whose first line is
    non-empty. L-fold candidate amplification — exposed behind
    ``duplicate_blocks(emit_suffixes=True)`` because resolution
    suppresses suffixes in all but pathological claim orders, and at
    scale the amplification buys nothing (FIXTURES.md §3)."""
    sfx = runs.select(
        "da",
        "db",
        F.explode(F.sequence(F.lit(0), F.col("n_lines") - 1)).alias("k"),
        "start_a",
        "start_b",
        "n_lines",
    ).select(
        "da",
        "db",
        (F.col("start_a") + F.col("k")).alias("start_a"),
        (F.col("start_b") + F.col("k")).alias("start_b"),
        (F.col("n_lines") - F.col("k")).cast("int").alias("n_lines"),
    )
    ne = lines.filter(F.col("trimmed") != "").select(
        F.col("doc_id").alias("da"),
        F.col("line_number").alias("start_a"),
    )
    return sfx.join(ne, ["da", "start_a"]).distinct()


def _candidates(runs: DataFrame, lines: DataFrame) -> DataFrame:
    """Per-side block candidates: gate, dedent, content, both locations."""
    occ = runs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("da").alias("doc_id"),
                    F.col("start_a").alias("start"),
                    F.col("n_lines"),
                    F.col("db").alias("o_doc"),
                    F.col("start_b").alias("o_start"),
                ),
                F.struct(
                    F.col("db").alias("doc_id"),
                    F.col("start_b").alias("start"),
                    F.col("n_lines"),
                    F.col("da").alias("o_doc"),
                    F.col("start_a").alias("o_start"),
                ),
            )
        ).alias("o")
    ).select("o.*")

    occ_lines = occ.withColumn(
        "line_number", F.explode(F.sequence(F.col("start"), F.col("start") + F.col("n_lines") - 1))
    ).join(lines, ["doc_id", "line_number"])

    grouped = occ_lines.groupBy("doc_id", "start", "n_lines", "o_doc", "o_start").agg(
        # reference gate (duplication.rs:144-149): scan only starts where
        # the raw line equals its own trim (no leading/trailing ws)
        F.max(
            F.when(
                F.col("line_number") == F.col("start"),
                (F.col("line") == F.col("trimmed")) & (F.col("trimmed") != ""),
            )
        ).alias("gate"),
        F.min(
            F.when(
                F.col("trimmed") != "",
                F.length("line") - F.length(F.ltrim(F.col("line"))),
            )
        ).alias("min_indent"),
        F.sort_array(F.collect_list(F.struct("line_number", "line"))).alias("ls"),
    )

    return (
        grouped.filter(F.col("gate"))
        .withColumn(
            "content",
            # reference dedent (duplication.rs:207-215): a line SHORTER
            # than min_indent (whitespace-only inside an indented
            # block) is kept verbatim, not sliced to ""
            F.concat_ws(
                "\n",
                F.transform(
                    "ls",
                    lambda x: F.when(
                        F.length(x["line"])
                        >= F.coalesce(F.col("min_indent"), F.lit(0)),
                        F.substring(
                            x["line"],
                            F.coalesce(F.col("min_indent"), F.lit(0)) + 1,
                            1 << 30,
                        ),
                    ).otherwise(x["line"]),
                ),
            ),
        )
        .select(
            "content",
            F.explode(
                F.array(
                    F.struct(F.col("doc_id"), F.col("start").alias("line")),
                    F.struct(F.col("o_doc").alias("doc_id"), F.col("o_start").alias("line")),
                )
            ).alias("loc"),
        )
        .groupBy("content")
        .agg(F.sort_array(F.collect_set("loc")).alias("locations"))
        .withColumn(
            "n_nonempty",
            F.size(F.filter(F.split("content", "\n"), lambda l: F.trim(l) != "")),
        )
        .withColumn("n_lines", F.size(F.split("content", "\n")))
        .withColumn("n_bytes", F.octet_length("content"))
    )


def _doc_components(
    cands: DataFrame, max_iters: int = 12, driver_max_edges: int = 1_000_000
) -> DataFrame:
    """Connected components of the doc-overlap graph: ``(doc_id,
    component)`` where component = min doc_id in the component.

    Greedy overlap resolution decomposes EXACTLY by these components:
    a block's claims only contend with blocks sharing a document, and
    every candidate's location set is a clique in this graph — so
    per-component resolution is parity-identical to the global
    sequential pass, but runs one task per component.

    The graph machinery (bounded driver union-find + distributed
    min-label fallback) lives in :mod:`.graph` and is shared with the
    near-dup cluster resolution operator."""
    from textalyzer_spark.operators.graph import connected_components

    docs = (
        cands.select(F.explode("locations").alias("l"))
        .select(F.col("l.doc_id").alias("doc_id"))
        .distinct()
    )
    edges = (
        cands.select(
            F.col("locations")[0]["doc_id"].alias("src"),
            F.explode("locations").alias("l"),
        )
        .select("src", F.col("l.doc_id").alias("dst"))
    )
    return connected_components(edges, docs, max_iters, driver_max_edges)


def _resolve_overlaps(pdf: pd.DataFrame) -> pd.DataFrame:
    """Greedy overlap resolution (reference duplication.rs:298-336),
    insert-then-gate semantics replicated exactly: every position-free
    location CLAIMS its line-cells immediately (used[cell] = number of
    blocks accepted so far), even if its block is then rejected for
    having < 2 valid locations. A claimed cell blocks a later check
    iff its stored index < the current accepted count — i.e. once ANY
    block has been accepted after the claim (duplication.rs:315-317's
    ``idx < result.len()``). Consequences the old accepted-only set
    missed: a rejected block's lone claim suppresses later overlapping
    blocks once anything else lands (ADVICE round-2).

    Sequential by definition; runs on the (small) candidate set inside
    one task.
    """
    pdf = pdf.sort_values(
        ["n_nonempty", "n_bytes", "content"], ascending=[False, False, True]
    )
    used: dict[tuple[str, int], int] = {}
    out = []
    for row in pdf.itertuples(index=False):
        span = row.n_lines
        valid = []
        for loc in sorted((l["doc_id"], l["line"]) for l in row.locations):
            doc, start = loc
            cells = [(doc, ln) for ln in range(start, start + span)]
            if any(used.get(c, len(out)) < len(out) for c in cells):
                continue
            valid.append({"doc_id": doc, "line": start})
            for c in cells:
                used[c] = len(out)
        if len(valid) >= 2:
            out.append(
                {
                    "content": row.content,
                    "locations": valid,
                    "n_lines": row.n_lines,
                    "n_nonempty": row.n_nonempty,
                    "n_bytes": row.n_bytes,
                }
            )
    cols = ["content", "locations", "n_lines", "n_nonempty", "n_bytes"]
    return pd.DataFrame(out, columns=cols)


def duplicate_blocks(
    df: DataFrame,
    min_lines: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_locations_per_line: int | None = 1000,
    resolve: bool = True,
    resolution: str = "auto",
    driver_max_candidates: int = 100_000,
    emit_suffixes: bool = False,
) -> DataFrame:
    """Multi-line duplication (reference duplication.rs:52-339 +
    lib.rs:114-131). ``min_lines <= 1`` dispatches to
    :func:`duplicate_lines` per lib.rs:114-117.

    Returns ``(content, locations array<struct<doc_id,line>>, n_lines,
    n_nonempty)`` ordered (n_nonempty desc, byte length desc, content
    asc). ``resolve=False`` skips the overlap-resolution stage and
    returns all maximal candidates.

    ``max_locations_per_line`` (default ON at 1000) excludes trimmed
    lines occurring more than that many times from the matching-pair
    join — the skew guard: a token line like ``"}"`` at 10^6
    occurrences would fan the seed self-join out to 10^12 rows. Effect
    on results: a maximal run containing an over-cap line splits at
    that line (its pair rows are absent), so only blocks glued
    together by ultra-common filler can shrink — nothing changes
    below pathological density. ``None`` restores exact reference
    parity (documented deviation, FIXTURES.md §3).

    ``emit_suffixes`` (default OFF) also emits every non-empty-start
    SUFFIX of each maximal run as its own candidate, exactly like the
    reference's every-duplicate-start scan (duplication.rs:141-165) —
    an L-fold candidate amplification that changes the final answer
    only when resolution rejects a containing block but leaves its
    tail's cells free (see
    test_suffix_candidates_survive_partial_claims). Default off: at
    scale the amplification buys nothing.

    ``resolution``: ``'auto'`` (default) collects candidate blocks to
    the driver and resolves there when there are at most
    ``driver_max_candidates`` of them — candidates are the DUPLICATED
    blocks, orders of magnitude smaller than the corpus, and the
    driver pass replaces ~10 tiny scheduled jobs (component
    propagation + applyInPandas machinery) with one. Larger candidate
    sets fall through to ``'components'`` (the scale path): greedy
    resolution per connected component of the doc-overlap graph —
    parity-identical to ``'global'`` (one sequential pass over
    everything) because blocks in disjoint components can never
    contend for line positions, and each component runs as its own
    task.
    """
    if resolution not in ("auto", "components", "global"):
        raise ValueError(f"unknown resolution {resolution!r}")
    if min_lines <= 1:
        return duplicate_lines(df, id_col, text_col)

    # the exploded line table feeds the seed self-join (both sides),
    # the empty-line probes, and the candidate dedent join —
    # materialize once (round-8 A/B: 1.65-1.77 -> 1.40-1.50 s at
    # sf0.1, and the cold first build drops 4.9 -> 1.7 s)
    lines = explode_lines(df, id_col, text_col).localCheckpoint()
    pairs = _matching_line_pairs(lines, max_locations_per_line)
    runs = _maximal_runs(pairs, lines, docs=df, text_col=text_col)
    if emit_suffixes:
        runs = _suffix_runs(runs, lines)
    cands = _candidates(runs, lines)

    if resolve:
        schema = (
            f"content string, locations {_loc_schema(df, id_col)}, n_lines int, "
            "n_nonempty int, n_bytes bigint"
        )
        checkpointed = False
        if resolution == "auto":
            cands = cands.localCheckpoint()
            checkpointed = True
            if cands.count() <= driver_max_candidates:
                resolved = df.sparkSession.createDataFrame(
                    _resolve_overlaps(cands.toPandas()), schema
                )
                resolution = "driver"
            else:
                resolution = "components"
        if resolution == "components":
            # cands feeds three consumers (component docs, edges, and
            # the resolution join) — materialize once
            if not checkpointed:
                cands = cands.localCheckpoint()
            comp = _doc_components(cands)
            keyed = cands.withColumn(
                "_g", F.col("locations")[0]["doc_id"]
            ).join(
                comp.select(
                    F.col("doc_id").alias("_g"),
                    F.col("component").alias("_comp"),
                ),
                "_g",
            )
            resolved = keyed.groupBy("_comp").applyInPandas(
                lambda _, pdf: _resolve_overlaps(pdf), schema
            )
        elif resolution == "global":
            keyed = cands.withColumn("_g", F.lit(1))
            resolved = keyed.groupBy("_g").applyInPandas(
                lambda _, pdf: _resolve_overlaps(pdf), schema
            )
    else:
        resolved = cands

    return (
        resolved.filter(F.col("n_nonempty") >= min_lines)
        .select("content", "locations", "n_lines", "n_nonempty")
        .orderBy(F.desc("n_nonempty"), F.desc(F.octet_length("content")), F.asc("content"))
    )
