"""The workloads. Each is a closed loop with one client: the next call
is submitted only after the previous one has returned.

A workload object owns its inputs and offers:

* ``prepare()`` — generate inputs and expected results (before Spark);
* ``warm_up(calls)`` — untimed iterations, so caches fill, Python
  workers start and the JIT compiles before timing;
* ``iteration(calls)`` — the timed calls; returns what the checks need;
* ``check(outputs)`` — the number of output mismatches;
* ``layers(calls)`` — extra traced passes that time single layers.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback

import pyarrow.parquet as pq

import checks
import gen

N_BUCKETS = 16
N_BATCHES = 4
KILL_AFTER = 2
CANARY_SEED = 0  # the oracle-checked canary corpus is the same on every run


def collect(df):
    return df.columns, df.collect()


def noop(df):
    """Execute a plan fully without moving its rows into this process;
    return it for the next layer."""
    df.write.format("noop").mode("overwrite").save()
    return df


class Calls:
    """Makes the benchmark's calls into the program.

    Every call is ``build`` (DataFrame construction, including any
    eager barriers or probe collects inside the call) then ``run`` (the
    action). Untraced, only failures and per-call wall times are kept.
    Traced, each call is a span with children ``build`` and ``run``,
    under its own Spark job group."""

    def __init__(self, spark, tracer, counts):
        self.spark = spark
        self.tracer = tracer
        self.counts = counts
        self.attempted = 0
        self.failed = 0
        self.tasks = 0
        self.tasks_failed = 0
        self.stats: dict[str, list[dict]] = {}

    def __call__(self, name: str, build, run=None):
        self.attempted += 1
        traced = self.tracer.enabled
        group = self.counts.begin(name) if traced else None
        rec = {}
        try:
            with self.tracer.span(name):
                t0 = time.perf_counter()
                with self.tracer.span(name + ".build"):
                    out = build()
                t1 = time.perf_counter()
                if run is not None:
                    with self.tracer.span(name + ".run"):
                        out = run(out)
                t2 = time.perf_counter()
            rec = {"build_s": t1 - t0, "run_s": t2 - t1}
        except Exception:  # a failed call is counted and the loop goes on
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            out = None
        if traced:
            rec.update(self.counts.end(group))
        self.stats.setdefault(name, []).append(rec)
        return out

    def median(self, name: str, key: str) -> float:
        vals = [r[key] for r in self.stats.get(name, ()) if key in r]
        return statistics.median(vals) if vals else 0.0

    def last(self, name: str, key: str) -> int:
        recs = [r for r in self.stats.get(name, ()) if key in r]
        return recs[-1][key] if recs else 0


def local_functions(texts: list[str]) -> dict[str, float]:
    """Single-thread plain-Python tokenizer throughput and the syllable
    memo's hit ratio over a fixed document sample, from a cold memo."""
    from textalyzer_spark.functions.syllables import count_syllables
    from textalyzer_spark.functions.tokenize import tokenize_text

    count_syllables.cache_clear()
    n = 0
    t0 = time.perf_counter()
    for t in texts:
        toks = tokenize_text(t)
        n += len(toks)
        for w in toks:
            count_syllables(w)
    el = time.perf_counter() - t0
    info = count_syllables.cache_info()
    return {
        "functions.tokenize_text.tokens_per_s": n / el,
        "functions.count_syllables.memo_hit_ratio": info.hits / max(1, info.hits + info.misses),
    }


SAMPLE_DOCS = 4000  # fixed sample for the in-process function metrics


class Workload:
    name = ""  # also the name of its corpus in gen

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.key = f"{self.name}-{seed}-{gen.SIZES[self.name]}-v{gen.VERSION}"
        self.in_dir = os.path.join(work, "inputs", self.key)
        self.data_dir = os.path.join(self.in_dir, "data")
        self.mismatches = 0
        self.props: dict = {}

    def prepare(self) -> None:
        self.props = gen.generate(self.name, self.seed, self.in_dir)

    @property
    def docs(self) -> int:
        return self.props["docs"]

    def warm_up(self, calls: Calls) -> None:
        self.iteration(calls)


class ExtractBulk(Workload):
    """Scan, ``process_spans_arrow`` to a noop sink, the span word
    histogram collected and rendered, and per-doc readability. The
    traced run adds a scan alone, the in-process tokenizer, and a
    resumable write of the same kernel killed after batch 2."""

    name = "extract_bulk"

    def prepare(self) -> None:
        super().prepare()
        self.table = pq.read_table(self.data_dir)
        self.expected, self.read_expected, self.hist = checks.nested_expected(
            self.table, os.path.join(self.work, "expected", self.key)
        )
        self.lineage_dir = os.path.join(self.work, "out", "lineage")

    def warm_up(self, calls: Calls) -> None:
        # two passes: during the first the JIT and each Python worker's
        # syllable memo are still filling, and the next pass is ~20% faster
        for _ in range(2):
            self.iteration(calls)

    def iteration(self, calls: Calls):
        from textalyzer_spark.formatting import format_freq_map
        from textalyzer_spark.operators import spans

        spark = calls.spark
        nested = calls("sources.read_parquet", lambda: spark.read.parquet(self.data_dir))
        calls("spans.process_spans_arrow", lambda: spans.process_spans_arrow(nested), noop)
        rows = calls(
            "spans.span_word_frequency",
            lambda: spans.span_word_frequency(nested),
            lambda df: [tuple(r) for r in df.collect()],  # (word, count)
        )
        text = calls("formatting.format_freq_map", lambda: format_freq_map(rows or []))
        calls("spans.span_readability", lambda: spans.span_readability(nested), noop)
        return rows, text

    def check(self, calls: Calls, outputs) -> int:
        from textalyzer_spark.operators import spans

        bad = 0
        for rows, text in outputs:  # every timed iteration's histogram
            bad += checks.check_histogram(rows or [], self.hist)
            bad += int(text is None or text.count("\n") != len(rows or []))
        self.rows_out = len(outputs[-1][0] or [])
        nested = calls.spark.read.parquet(self.data_dir)
        out = spans.process_spans_arrow(nested).toArrow()
        bad += checks.check_span_output(out, self.table, self.expected)
        return bad + checks.check_readability(spans.span_readability(nested).toArrow(), self.read_expected)

    def layers(self, calls: Calls) -> dict[str, float]:
        spark = calls.spark
        calls("sources.scan", lambda: spark.read.parquet(self.data_dir), noop)
        texts = [checks.doc_text(s) for s in self.table.column("spans").to_pylist()[:SAMPLE_DOCS]]
        with calls.tracer.span("functions.local_sample"):
            out = local_functions(texts)
        out["sources.scan_s"] = calls.median("sources.scan", "run_s")
        out["sources.bytes_in"] = self.props["bytes"]
        out["spans.span_word_frequency.rows_out"] = self.rows_out
        out.update(self.resumable_write(calls))
        return out

    def resumable_write(self, calls: Calls) -> dict[str, float]:
        """``run_with_lineage(process_spans_arrow)`` killed after batch 2
        by its ``fail_after_batches`` hook, resumed to completion, and
        checked: every doc exactly once, with the metrics above."""
        from pyspark.sql import functions as F

        from textalyzer_spark.lineage import BatchKilled, read_lineage, run_with_lineage
        from textalyzer_spark.operators.spans import process_spans_arrow

        spark, out_dir = calls.spark, self.lineage_dir
        shutil.rmtree(out_dir, ignore_errors=True)

        def transform(part):
            # the Arrow stage replaces the input columns: re-derive the
            # lineage bucket on its output
            bucket = F.pmod(F.xxhash64(F.col("doc_id").cast("string")), F.lit(N_BUCKETS))
            return process_spans_arrow(part.drop("bucket")).withColumn("bucket", bucket.cast("int"))

        def run(**kw):
            return run_with_lineage(
                spark.read.parquet(self.data_dir), transform, out_dir, n_buckets=N_BUCKETS, batches=N_BATCHES, **kw
            )

        def killed():
            try:
                run(fail_after_batches=KILL_AFTER)
            except BatchKilled:
                return
            raise RuntimeError("the fault-injection hook did not fire")

        calls("lineage.first", killed)
        committed = pq.read_table(os.path.join(out_dir, "_lineage")).num_rows
        calls("lineage.resume", run)
        lin = read_lineage(spark, out_dir).collect()
        data = os.path.join(out_dir, "data")
        self.mismatches += checks.check_span_output(pq.read_table(data), self.table, self.expected)
        out_bytes = sum(
            os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(data) for f in fs if f.endswith(".parquet")
        )
        uncommitted = N_BUCKETS - committed
        return {
            "lineage.first_s": calls.median("lineage.first", "build_s"),
            "lineage.resume_s": calls.median("lineage.resume", "build_s"),
            "lineage.batch_compute_s": sum({r["batch_seconds"] for r in lin}),  # one value per batch
            "lineage.bucket_write_s": sum(r["bucket_seconds"] for r in lin),
            "lineage.rework_ratio": (len(lin) - committed) / uncommitted if uncommitted else 0.0,
            "lineage.bytes_out_per_byte_in": out_bytes / self.props["bytes"],
        }


class DedupPipeline(Workload):
    """The registered gates ``pipeline_clean_sample``,
    ``incremental_keep_quality`` and ``duplicate_blocks_resolved``,
    called through ``__spark_entry__.queries()``."""

    name = "dedup_pipeline"

    def prepare(self) -> None:
        super().prepare()
        table = pq.read_table(os.path.join(self.data_dir, "documents.parquet"))
        self.texts = dict(zip(table.column("doc_id").to_pylist(), table.column("text").to_pylist()))
        key = f"dedup_canary-{CANARY_SEED}-{gen.SIZES['dedup_canary']}-v{gen.VERSION}"
        canary = os.path.join(self.work, "inputs", key)
        gen.generate("dedup_canary", CANARY_SEED, canary)
        self.canary_dir = os.path.join(canary, "data")
        self.oracle = checks.oracle_expected(self.canary_dir, os.path.join(self.work, "expected", key + ".json"))

    def _gates(self, calls: Calls, sf_dir: str) -> dict:
        import __spark_entry__ as entry

        qs = entry.queries()
        out = {}
        for g in checks.GATES:
            out[g] = calls(
                f"gates.{g}",
                lambda g=g: qs[g](calls.spark, sf_dir),
                collect,
            )
        return out

    def warm_up(self, calls: Calls) -> None:
        """The canary corpus through every gate, checked against the
        gates' DuckDB oracle twins (cached: the canary never changes).
        The gates' plans compile here as they would on the full corpus."""
        for g, res in self._gates(calls, self.canary_dir).items():
            if res is None:
                self.mismatches += 1
                continue
            cols, rows = res
            self.mismatches += checks.check_gate_rows(cols, checks.gate_rows(cols, rows), self.oracle[g])

    def iteration(self, calls: Calls):
        return self._gates(calls, self.data_dir)

    def check(self, calls: Calls, outputs) -> int:
        """Properties of the timed outputs, and the same output from
        every iteration."""
        if "quality_pass_share" not in self.props:
            import __spark_entry__ as entry
            from textalyzer_spark.operators.quality import quality_score

            docs = calls.spark.read.parquet(os.path.join(self.data_dir, "documents.parquet"))
            passing = quality_score(docs).filter(f"quality_score >= {entry.PIPELINE_QMIN}").count()
            gen.add_properties(self.in_dir, self.props, quality_pass_share=round(passing / self.docs, 4))
        bad = 0
        first = self.gate_fp = {}
        for out in outputs:
            for g, res in out.items():
                if res is None:
                    bad += 1
                    continue
                cols, rows = res
                fp = checks.fingerprint(checks.gate_rows(cols, rows))
                # the same input gives the same output on every iteration
                bad += int(first.setdefault(g, fp) != fp)
        for g, res in outputs[-1].items():
            if res is not None:
                bad += checks.check_gate_invariants(g, [r.asDict() for r in res[1]], self.texts)
        return bad

    def layers(self, calls: Calls) -> dict[str, float]:
        """The gates' bodies again, one traced call per layer, so each
        layer's build/run time and job count can be read separately.
        A layer's ``run`` re-executes its un-materialized upstream. This
        mirrors ``__spark_entry__``'s gate bodies with its own helpers
        and parameters; the last layer of ``incremental_keep_quality``
        and of ``duplicate_blocks_resolved`` is collected and must equal
        its gate's output, so a copy that drifts from its gate is
        counted as a mismatch."""
        from pyspark.sql import functions as F

        import __spark_entry__ as entry
        from textalyzer_spark.operators.duplication import duplicate_blocks
        from textalyzer_spark.operators.incremental import (
            incremental_near_dup_components,
            minhash_component_catalog,
        )
        from textalyzer_spark.operators.near_dedup import quality_keep
        from textalyzer_spark.operators.pii import redact_pii, synthesize_pii
        from textalyzer_spark.operators.quality import quality_score, with_quality_score

        spark, sf = calls.spark, self.data_dir
        mh = dict(k=5, num_hashes=32, bands=8, threshold=0.1, seed=42)
        pdoc = synthesize_pii(entry._docs(spark, sf))
        gated = calls(
            "quality.with_quality_score",
            lambda: with_quality_score(pdoc).filter(F.col("quality_score") >= entry.PIPELINE_QMIN).drop("quality_score"),
            noop,
        )
        calls("pii.redact_pii", lambda: redact_pii(gated), noop)
        old, new = entry._split_batches(spark, sf)
        cat = calls("incremental.minhash_component_catalog", lambda: minhash_component_catalog(old, **mh), noop)
        catq = calls(
            "quality.quality_score",
            lambda: cat.join(quality_score(old).select("doc_id", "quality_score"), "doc_id").localCheckpoint(),
        )
        labels = calls(
            "incremental.incremental_near_dup_components",
            lambda: incremental_near_dup_components(new, catq, **mh),
            noop,
        )
        q_all = catq.select("doc_id", "quality_score").unionByName(quality_score(new).select("doc_id", "quality_score"))
        kept = calls("near_dedup.quality_keep", lambda: quality_keep(labels, q_all), collect)
        blocks = calls(
            "duplication.duplicate_blocks",
            lambda: duplicate_blocks(entry._line_structured_docs(spark, sf), min_lines=3, resolve=True),
            lambda df: collect(
                df.select("content", F.explode("locations").alias("l")).select(
                    "content", F.col("l.doc_id").alias("doc_id"), F.col("l.line").alias("line")
                )
            ),
        )
        for gate, out in (("incremental_keep_quality", kept), ("duplicate_blocks_resolved", blocks)):
            same = out is not None and checks.fingerprint(checks.gate_rows(*out)) == self.gate_fp.get(gate)
            self.mismatches += int(not same)
        return {}


WORKLOADS = {w.name: w for w in (ExtractBulk, DedupPipeline)}
