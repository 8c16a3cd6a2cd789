"""The benchmark's workloads.

Each workload sets itself up several times (session start, an
untimed warm-up query, input generation), runs one untimed pass whose
output is checked (it also warms the JIT and the Python workers), then
repeats timed passes for ``--seconds``.  A traced run then repeats the
passes in a fresh session that writes an event log and tags every Spark
job with the benchmark span that launched it.

Metric values a workload does not produce are filled in as 0 by run.py.
"""

from __future__ import annotations

import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from statistics import median

from pyspark.sql import functions as F

import checks
import eventlog
import inputs
import kernels
from procs import pin_tree

STAGE = "corrected_turns"
RESUME_BUCKETS = 1024
WARM_PASSES = 2


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


class Workload:
    name = ""
    ops: int  # operations in one pass: input turns, or queries
    setups = 3  # set-ups per run; setup_s is their median

    def __init__(self, harness, seed: int, trace: bool, levels):
        self.h = harness
        self.seed = seed
        self.trace = trace
        self.low, self.high = levels
        self.attempted = 0
        self.failed = 0
        self.meta: dict = {"workload": self.name, "seed": seed}

    # subclass hooks ----------------------------------------------------
    def build(self) -> None:
        raise NotImplementedError

    def check_pass(self) -> None:
        raise NotImplementedError

    def one_pass(self) -> None:
        raise NotImplementedError

    def measure(self) -> float:
        """Untimed warm-up passes, then timed passes for ``--seconds``;
        returns the median timed pass."""
        # pass times keep falling over the first passes of a session (JIT,
        # Python worker start-up); the warm-up passes are not traced
        tr = self.h.tracer
        traced, tr.enabled = tr.enabled, False
        self.h.passes(self.one_pass, seconds=0, min_passes=WARM_PASSES)
        tr.enabled = traced
        times = self.h.passes(self.one_pass)
        self.meta.setdefault("pass_s", []).append(times)
        log(f"timed passes {[round(t, 3) for t in times]}")
        return median(times)

    def check(self) -> None:
        """Compare the check pass's output with the oracle; sets
        ``attempted`` and ``failed``."""
        raise NotImplementedError

    def extra_untraced(self, wall_s: float) -> dict:
        """Per-layer metrics measured with tracing off, after the timed
        passes."""
        return {}

    def extra_traced(self) -> dict:
        """Per-layer metrics measured in the traced session, after the
        traced passes."""
        return {}

    def layers(self, summary: dict) -> dict:
        """Per-layer metrics of the traced passes, from the event-log
        ``summary`` and the spans."""
        return {}

    # run loop ----------------------------------------------------------
    def run(self) -> tuple[dict, dict]:
        h = self.h
        setups = h.timed_setups(self.build, self.setups)
        setup_s = median(setups)
        self.meta["setup_s"] = setups
        log(f"{self.name}: set-ups took {[round(t, 3) for t in setups]} s")
        self.check_pass()
        log("check pass done")
        h.rss.reset()
        wall_s = self.measure()
        end_to_end = {
            "wall_s": wall_s,
            "ops_per_s": self.ops / wall_s,
            "setup_s": setup_s,
            "peak_rss_mb": h.rss.peak / 2**20,
        }
        per_layer: dict = {}
        if self.trace:
            per_layer.update(self.extra_untraced(wall_s))
            h.start(event_log=True)
            h.warm_up()
            traced = self.measure()
            per_layer.update(self.extra_traced())
            h.stop()  # flushes and closes the event log
            summary = eventlog.summarize(eventlog.read_events(h.event_log))
            per_layer.update(self.layers(summary))
            per_layer["trace.overhead_ratio"] = traced / wall_s
        self.check()
        log(f"checked: {self.failed} of {self.attempted} failed")
        return end_to_end, per_layer

    # helpers -----------------------------------------------------------
    def spark_layers(self, summary: dict, roots: set, n_passes: int) -> dict:
        """Event-log totals of every span under a root named in
        ``roots``, per pass."""
        spans = self.h.tracer.spans
        root = {}
        for s in spans:  # parents precede children
            root[s["id"]] = root[s["parent"]] if s["parent"] is not None else s["name"]
        rec = eventlog.merge(
            r for sid, r in summary.items() if sid is not None and root[sid] in roots
        )
        t, sql = rec["totals"], rec["totals"]["sql"]
        n = max(n_passes, 1)
        return {
            "python.run_s": sql["time to run Python workers"] / n,
            "python.start_s": sql["time to start Python workers"] / n,
            "python.init_s": sql["time to initialize Python workers"] / n,
            "python.bytes_sent": sql["data sent to Python workers"] / n,
            "python.bytes_returned": sql["data returned from Python workers"] / n,
            "pipeline.shuffle_write_bytes": t["shuffle_write_bytes"] / n,
            "pipeline.shuffle_read_bytes": t["shuffle_read_bytes"] / n,
            "pipeline.shuffle_write_s": t["shuffle_write_s"] / n,
            "pipeline.fetch_wait_s": t["fetch_wait_s"] / n,
            "pipeline.sort_s": sql["sort time"] / n,
            "pipeline.spill_bytes": t["spill_bytes"] / n,
            "pipeline.tasks": t["tasks"] / n,
            "pipeline.task_skew": eventlog.kernel_task_skew(rec),
            "pipeline.executor_run_s": t["executor_run_s"] / n,
            "pipeline.executor_cpu_s": t["executor_cpu_s"] / n,
            "pipeline.gc_s": t["gc_s"] / n,
            "sources.scan_s": sql["scan time"] / n,
            "sources.input_bytes": t["input_bytes"] / n,
        }


def _plan_exchanges(df) -> int:
    return eventlog.count_exchanges(
        df._jdf.queryExecution().executedPlan().toString()
    )


def _conversations(base_rows, alt_rows) -> dict:
    """conv_id -> turns in (turn_idx, ts) order, each with its alt text."""
    alt = {(r["conv_id"], r["turn_idx"]): r["text"] for r in alt_rows}
    by_conv: dict = {}
    for r in base_rows:
        by_conv.setdefault(r["conv_id"], []).append(r)
    return {
        c: [
            {**r, "alt": alt.get((c, r["turn_idx"]), "")}
            for r in sorted(rows, key=lambda r: (r["turn_idx"], r["ts"]))
        ]
        for c, rows in by_conv.items()
    }


def _oracle(by_conv: dict, lexicon) -> dict:
    """(conv_id, turn_idx) -> ``oracle.spec.correct_corpus`` text."""
    from memo_fraktur_ocr_code_spark.oracle.spec import correct_corpus

    rows = [t for turns in by_conv.values() for t in turns]
    alts = [
        {"conv_id": t["conv_id"], "turn_idx": t["turn_idx"], "text": t["alt"]}
        for t in rows
    ]
    return {
        (r["conv_id"], r["turn_idx"]): r["corrected_text"]
        for r in correct_corpus(rows, alts, lexicon)
    }


class CorrectDistinct(Workload):
    """``correct_pipeline`` on its default partition-walk plan over
    make_fixture-shaped conversations in which every turn is distinct,
    materialized as ``count`` + ``sum(length(corrected_text))``."""

    name = "correct_distinct"
    N_CONVS = 160
    TURNS_PER_CONV = 20
    RESUME_DOCS = 80

    def __init__(self, *a):
        super().__init__(*a)
        self.base_path = self.h.path("input", "base")
        self.alt_path = self.h.path("input", "alt")
        self.agg = None

    @property
    def ops(self) -> int:
        """Input turns."""
        return sum(len(v) for v in self.by_conv.values())

    def build(self) -> None:
        base, alt, self.lexicon = inputs.distinct_fixture(
            self.seed, self.N_CONVS, self.TURNS_PER_CONV
        )
        n = len(self.high)
        inputs.write_rows(self.base_path, base, inputs.TRANSCRIPT_SCHEMA, n)
        inputs.write_rows(self.alt_path, alt, inputs.ALT_SCHEMA, n)
        self.by_conv = _conversations(base, alt)

    def pipeline(self, num_partitions=None):
        from memo_fraktur_ocr_code_spark.plans.pipeline import correct_pipeline

        spark, tr = self.h.spark, self.h.tracer
        with tr.span("sources.read"):
            base = spark.read.parquet(self.base_path)
            alt = spark.read.parquet(self.alt_path)
        with tr.span("pipeline.plan"):
            return correct_pipeline(
                spark, base, alt, self.lexicon, num_partitions=num_partitions
            )

    def check_pass(self) -> None:
        self.output = [tuple(r) for r in self.pipeline().collect()]
        self.digest = (
            len(self.output), sum(len(r[2] or "") for r in self.output)
        )
        self.unstable = 0

    def one_pass(self, num_partitions=None) -> None:
        tr = self.h.tracer
        with tr.span("pass"):
            out = self.pipeline(num_partitions)
            with tr.span("pipeline.run"):
                agg = out.agg(
                    F.count("*"), F.sum(F.length("corrected_text"))
                )
                row = agg.collect()[0]
        if (row[0], row[1] or 0) != self.digest:
            self.unstable += 1
        self.agg = agg

    def check(self) -> None:
        expected = _oracle(self.by_conv, self.lexicon)
        self.attempted += len(expected)
        self.failed += checks.failed_turns(self.output, expected)
        if self.unstable:
            # a timed pass disagreed with the checked output: none of the
            # measured turns can be vouched for
            log(f"{self.unstable} timed pass(es) disagree with the checked output")
            self.failed += len(expected)

    def extra_untraced(self, wall_s: float) -> dict:
        """Scaling pair: the same passes with the whole process tree
        pinned to one core on ``local[1]``, against ``wall_s`` on every
        core.  Both levels use the all-core level's partition count, so
        they do identical physical work."""
        h = self.h
        h.stop()
        self.meta["cores_low"] = pin_tree(self.low)
        try:
            h.start(n_cores=len(self.low))
            h.warm_up()
            # one untimed warm-up pass, then one timed pass (each is n
            # times longer than an all-core pass)
            low_s = h.passes(
                lambda: self.one_pass(4 * len(self.high)),
                seconds=0, min_passes=2,
            )[-1]
        finally:
            h.stop()
            self.meta["cores_high"] = pin_tree(self.high)
        if (self.meta["cores_low"], self.meta["cores_high"]) != (self.low, self.high):
            raise RuntimeError(f"pinning failed: {self.meta}")
        ratio = len(self.high) / len(self.low)
        return {
            "scaling.efficiency": low_s / wall_s / ratio,
            "scaling.cores_high": len(self.high),
        }

    def layers(self, summary: dict) -> dict:
        out = self.spark_layers(
            summary, {"pass"}, len(self.h.tracer.durations("pass"))
        )
        out["pipeline.exchanges"] = _plan_exchanges(self.agg)
        out.update(
            kernels.kernel_metrics(
                kernels.sample_conversations(self.by_conv, 400), self.lexicon
            )
        )
        pairs = [(t["text"], t["alt"]) for v in self.by_conv.values() for t in v]
        out.update({
            "input.turns": len(pairs),
            "input.max_conv_turns": max(len(v) for v in self.by_conv.values()),
            "input.dup_pair_share": inputs.pair_repeat_share(pairs),
        })
        return out


    def extra_traced(self) -> dict:
        """The ``jobs/run_correction.py --bucketed-input`` path on a small
        documents corpus, through the calls the job makes: bucketed
        ingest, a checkpointed run over half the buckets (standing in for
        a killed run), then the resume over the full input.  Its output
        is checked for missing, duplicated and wrong turns."""
        return _resume_probe(self)


def _resume_probe(wl: Workload) -> dict:
    import __spark_entry__ as entry
    from memo_fraktur_ocr_code_spark.plans.checkpoint import (
        read_stage,
        run_stage_checkpointed,
        with_bucket,
    )
    from memo_fraktur_ocr_code_spark.plans.pipeline import correct_pipeline
    from memo_fraktur_ocr_code_spark.sources.bucketed import (
        read_bucketed,
        write_bucketed,
    )

    h = wl.h
    spark, tr = h.spark, h.tracer
    sf = h.path("input", "resume_sf")
    inputs.write_tables(
        sf, {"documents": inputs.documents(wl.seed, CorrectDistinct.RESUME_DOCS)}
    )
    base, alt, lexicon = entry.transcripts_from_documents(
        spark, sf, turns_per_doc=16
    )
    with tr.span("sources.bucketed_ingest") as ingest:
        write_bucketed(base, "resume_base", path=h.path("input", "rb"))
        write_bucketed(
            alt, "resume_alt", path=h.path("input", "ra"),
            sort_cols=("conv_id", "turn_idx"),
        )

    def corrected():
        # the plan run_correction.py picks for --bucketed-input
        return correct_pipeline(
            spark, read_bucketed(spark, "resume_base"),
            read_bucketed(spark, "resume_alt"), lexicon, fused="cogroup",
        )

    out_dir = h.path("resume_out")
    job = dict(
        out_dir=out_dir, stage=STAGE, n_buckets=RESUME_BUCKETS,
        input_fingerprint="resume_base",
    )
    with tr.span("checkpoint.phase1") as p1:
        half = with_bucket(corrected(), "conv_id", RESUME_BUCKETS)
        run_stage_checkpointed(
            spark,
            half.where(F.col("_bucket") < RESUME_BUCKETS // 2).drop("_bucket"),
            **job,
        )
    with tr.span("checkpoint.phase2") as p2:
        summary = run_stage_checkpointed(spark, corrected(), **job)
    files = sum(
        f.endswith(".parquet")
        for _d, _s, fs in os.walk(os.path.join(out_dir, STAGE)) for f in fs
    )
    rows = read_stage(spark, out_dir, STAGE).select(
        "conv_id", "turn_idx", "corrected_text"
    ).collect()
    expected = _oracle(
        _conversations(
            [r.asDict() for r in base.collect()],
            [r.asDict() for r in alt.collect()],
        ),
        lexicon,
    )
    wl.attempted += len(expected)
    wl.failed += checks.failed_turns([tuple(r) for r in rows], expected)
    took = {s["id"]: s["end"] - s["start"] for s in tr.spans}
    return {
        "sources.bucketed_ingest_s": took[ingest],
        "sources.output_files": files,
        "checkpoint.phase1_s": took[p1],
        "checkpoint.phase2_s": took[p2],
        # phase 2 outside its data write: manifest reads and lineage
        # checks, orphan reconcile, per-bucket metrics, manifest append
        "checkpoint.manifest_check_s": took[p2] - summary["wall_ms"] / 1e3,
        "checkpoint.buckets_skipped": summary["buckets_skipped"],
    }


QUERIES = (
    "dedup_clusters",
    "incremental_minhash_dedup",
    "ivfpq_topk",
    "bpe_train_merges",
    "stupid_backoff_lm",
    "decontaminate_bench",
    "embedding_decontaminate",
    "transcript_sessions",
)


class CurationMix(Workload):
    """Eight registry queries, each with cold operator and catalog
    caches, forced through xxhash64 over all output columns."""

    name = "curation_mix"
    N_DOCS = 500
    N_VECS = 500
    ops = len(QUERIES)
    setups = 5  # each is short, so its median needs more of them

    def __init__(self, *a):
        super().__init__(*a)
        import __spark_entry__ as entry

        registry = dict(entry.queries())
        registry.update(entry.extra_queries())
        self.registry = {q: registry[q] for q in QUERIES}
        self.oracle = {q: entry.oracle_sql()[q] for q in QUERIES}
        self.sf = self.h.path("input", "sf")

    def build(self) -> None:
        inputs.write_tables(
            self.sf,
            {
                "documents": inputs.documents(self.seed, self.N_DOCS),
                "embeddings": inputs.embeddings(self.seed, self.N_VECS),
            },
        )

    def _cold(self) -> None:
        from memo_fraktur_ocr_code_spark.operators.dedup import (
            release_operator_caches,
        )

        release_operator_caches()
        self.h.spark.catalog.clearCache()

    def check_pass(self) -> None:
        """Run every query once, concurrently from driver threads (the
        pass is untimed; it also warms the JIT and the Python workers),
        and compare each result with its DuckDB oracle."""
        import duckdb

        spark = self.h.spark
        self._cold()
        with ThreadPoolExecutor(max_workers=len(QUERIES)) as pool:
            got = dict(zip(QUERIES, pool.map(
                lambda q: self.registry[q](spark, self.sf).toPandas(), QUERIES
            )))
        # operator caches are released once, after the whole batch
        self._cold()
        con = duckdb.connect()
        for f in os.listdir(self.sf):
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM"
                f" '{os.path.join(self.sf, f)}'"
            )
        self.mismatched = []
        for q in QUERIES:
            reason = checks.query_mismatch(got[q], con.execute(self.oracle[q]).df())
            if reason:
                self.mismatched.append(q)
                log(f"{q}: {reason}")
        con.close()
        self.rows = {q: len(got[q]) for q in QUERIES}
        self.digests: dict = {}
        self.unstable: set = set()
        self.plans: dict = {}

    def one_pass(self) -> None:
        spark, tr = self.h.spark, self.h.tracer
        for q in QUERIES:
            self._cold()
            with tr.span(f"query.{q}"):
                t0 = time.perf_counter()
                df = self.registry[q](spark, self.sf)
                agg = df.select(
                    F.count("*"), F.bit_xor(F.xxhash64(*df.columns))
                )
                n, digest = agg.collect()[0]
                self.draws[q].append(time.perf_counter() - t0)
            # every draw must return the checked row count and the same
            # content hash as the first draw
            if n != self.rows[q] or self.digests.setdefault(q, digest) != digest:
                self.unstable.add(q)
            self.plans[q] = agg

    def measure(self) -> float:
        """Rounds of one draw per query for ``--seconds`` (at least one);
        returns the sum over the queries of each one's median draw."""
        self.draws = {q: [] for q in QUERIES}
        self.h.passes(self.one_pass, min_passes=1)
        self.meta.setdefault("draw_s", []).append(self.draws)
        log(f"draws { {q: [round(t, 3) for t in d] for q, d in self.draws.items()} }")
        return sum(median(d) for d in self.draws.values())

    def check(self) -> None:
        self.attempted = len(QUERIES)
        self.failed = len(set(self.mismatched) | self.unstable)

    def layers(self, summary: dict) -> dict:
        rounds = len(self.draws[QUERIES[0]])
        roots = {f"query.{q}" for q in QUERIES}
        out = self.spark_layers(summary, roots, rounds)
        out["pipeline.exchanges"] = sum(
            _plan_exchanges(p) for p in self.plans.values()
        )
        for q in QUERIES:
            one = self.spark_layers(summary, {f"query.{q}"}, rounds)
            out[f"query.{q}.s"] = median(self.draws[q])
            out[f"query.{q}.shuffle_bytes"] = one["pipeline.shuffle_write_bytes"]
            out[f"query.{q}.exchanges"] = _plan_exchanges(self.plans[q])
        return out


WORKLOADS = {w.name: w for w in (CorrectDistinct, CurationMix)}
