"""End-to-end per-turn correction pipeline (the flagship plan).

Composition mirrors the reference pipeline order
(run_eval_pipeline.py:54-64): assemble → correct_easy → correct_hard →
sym_wordcorrect, re-expressed as one Spark job graph with exactly one
conversation-grouped shuffle (assembly) plus one per-turn equi-join (alt
channel); everything else is embarrassingly parallel per-turn work in
whole-stage codegen or Arrow kernels.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from memo_fraktur_ocr_code_spark.functions.alignment import alt_ocr_correct
from memo_fraktur_ocr_code_spark.functions.symspell import (
    build_conv_delta,
    conv_freqlist,
    word_correct_text,
)
from memo_fraktur_ocr_code_spark.functions.textspec import (
    assemble_turns,
    correct_easy,
)
from memo_fraktur_ocr_code_spark.operators.assembly import (
    assemble_transcripts,
)
from memo_fraktur_ocr_code_spark.operators.hardcorrect import correct_hard
from memo_fraktur_ocr_code_spark.operators.normalize import correct_easy_col
from memo_fraktur_ocr_code_spark.operators.wordcorrect import (
    broadcast_lexicon,
    sym_wordcorrect,
)

_OUT_SCHEMA = "conv_id string, turn_idx int, corrected_text string"

# Entry caps of the partition walk's memos.  Each memo is a pure-function
# cache, so emptying a full one changes no output byte, only the hit rate;
# the caps bound a partition's memo memory however many distinct turns it
# holds.  A turn memo entry holds whole turn texts (easy chain, alt-OCR
# alignment), a token memo entry one token's suggestion.
TURN_MEMO_CAP = 1 << 14
TOKEN_MEMO_CAP = 1 << 17

# Estimated kernel-input bytes per core below which one task per core
# beats more, smaller tasks: each task after a core's first costs a
# worker hand-off (~60-90 ms of slot time) that only a big enough task's
# load balance pays back.  From the num_partitions sweep in CHANGES.md
# (tools/sweep_kernel_partitions.py, 4-core x86): one task per core won
# up to 2.8 MB per core, four per core won at 11.1 MB.
KERNEL_TASK_MIN_BYTES = 4 << 20
# waves per core when the input is large or its size unknown
KERNEL_MAX_WAVES = 4


def kernel_partitions(parallelism: int, size_bytes: int) -> int:
    """Partition count of the partition walk's kernel stage: one task
    wave per core for every ``KERNEL_TASK_MIN_BYTES`` of estimated input
    per core, at least one wave and at most ``KERNEL_MAX_WAVES``.  An
    unknown size (Catalyst reports ``Long.MaxValue`` or more) gets the
    maximum."""
    waves = -(-size_bytes // (parallelism * KERNEL_TASK_MIN_BYTES))
    return parallelism * min(max(waves, 1), KERNEL_MAX_WAVES)


def _estimated_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate of ``df``'s analyzed plan: file sizes
    scaled through projections, ``Long.MaxValue`` per unsized leaf (e.g.
    ``createDataFrame``).  Reads statistics only; launches no job."""
    return int(df._jdf.queryExecution().analyzed().stats().sizeInBytes())


class _BoundedMemo(dict):
    """A dict that empties itself before an insert that would take it past
    ``cap`` entries (clear-on-full: no recency bookkeeping on the hit
    path, which stays a plain C ``dict.get``)."""

    __slots__ = ("cap",)

    def __init__(self, cap: int):
        super().__init__()
        self.cap = cap

    def __setitem__(self, key, value):
        if len(self) >= self.cap:
            self.clear()
        dict.__setitem__(self, key, value)


def correct_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    alt_transcripts: DataFrame | None,
    lexicon_pairs,
    do_easy: bool = True,
    do_hard: bool = True,
    do_sym: bool = True,
    fused: bool | str = True,
    num_partitions: int | None = None,
    bigram_pairs: dict | None = None,
    long_conv_threshold: int = 1_000_000,
    augment_per_conv: bool | tuple = False,
) -> DataFrame:
    """Returns (conv_id, turn_idx, corrected_text), one row per input turn,
    byte-equal to ``oracle.spec.correct_corpus`` under the stable
    (turn_idx, ts) ordering.

    Three physically different plans, same bytes out (all covered by the
    equality tests):

    * ``fused=True`` (default): ONE shuffle — both channels union into a
      hash repartition by conv_id, sorted within partitions, and a single
      ``mapInPandas`` kernel walks whole partitions carrying the trailing
      (possibly batch-split) conversation between Arrow batches.  Per-batch
      kernel overhead instead of per-group — the plan for the 100 TB run.
    * ``fused='cogroup'``: one cogrouped Arrow kernel per conv (2 shuffles,
      per-group dispatch).  Simpler; slower on short conversations.
    * ``fused=False``: staged operators (Catalyst regexp chain for easy,
      separate kernels, equi-join for the alt channel) — kept for plan
      inspection and as a cross-check.
    * ``fused='auto'``: skew router — conversations longer than
      ``long_conv_threshold`` turns take the staged plan (whose expensive
      correct_hard/sym stages are per-turn and rebalance freely), the
      rest take the partition-walk plan; the outputs union.  This removes
      the one straggler mode of the fused plans (a single 10^8-turn
      conversation pinning one task) without giving up their per-batch
      kernel economics for the short tail.  Pathological conversations
      are few by definition, so the long-id list is a broadcast.

    Extreme conversation-length skew: the fused plans process each
    conversation inside one task (assembly's cross-turn dehyphenation is
    order-dependent) — use ``fused='auto'`` (or ``False``) when the conv
    length distribution has a heavy tail.
    """
    augment = None
    if augment_per_conv:
        # per-conv augmentation needs a conversation-grouped sym stage
        if fused not in (True, "cogroup"):
            raise ValueError(
                "augment_per_conv requires a conv-grouped plan"
                " (fused=True or 'cogroup')"
            )
        if bigram_pairs is not None:
            raise ValueError(
                "augment_per_conv and bigram_pairs are separate rerank"
                " modes; enable one"
            )
        augment = (
            augment_per_conv
            if isinstance(augment_per_conv, tuple)
            else (2, 250)
        )
    if fused == "auto":
        return _correct_pipeline_skew_routed(
            spark, transcripts, alt_transcripts, lexicon_pairs,
            do_easy, do_hard, do_sym, num_partitions, bigram_pairs,
            long_conv_threshold,
        )
    if fused is True:
        return _correct_pipeline_partition(
            spark, transcripts, alt_transcripts, lexicon_pairs,
            do_easy, do_hard, do_sym, num_partitions, bigram_pairs,
            augment,
        )
    if fused == "cogroup":
        return _correct_pipeline_fused(
            spark, transcripts, alt_transcripts, lexicon_pairs,
            do_easy, do_hard, do_sym, bigram_pairs, augment,
        )
    return _correct_pipeline_staged(
        spark, transcripts, alt_transcripts, lexicon_pairs,
        do_easy, do_hard, do_sym, bigram_pairs,
    )


def _lexicon_broadcasts(spark, lexicon_pairs, needed: bool):
    """Build + broadcast the SymSpell deletion index only when a kernel
    will actually dereference it (``do_sym`` needs the index,
    ``do_hard`` with an alt channel needs the top-600 guard set).  The
    do_easy-only configuration previously still paid the full
    O(V × prefix-deletes) driver-side build and the executor broadcast
    for an index no kernel reads (ADVICE r3)."""
    if needed:
        return broadcast_lexicon(spark, lexicon_pairs)
    return None, None


def _correct_pipeline_staged(
    spark: SparkSession,
    transcripts: DataFrame,
    alt_transcripts: DataFrame | None,
    lexicon_pairs,
    do_easy: bool,
    do_hard: bool,
    do_sym: bool,
    bigram_pairs: dict | None = None,
    prebuilt: tuple | None = None,
) -> DataFrame:
    # `prebuilt` = (bc_index, bc_guard, bc_bigrams): the skew router
    # builds/broadcasts the lexicon ONCE and shares it across both
    # branches (a second driver-side SymSpellIndex build + broadcast per
    # plan is pure overhead)
    if prebuilt is not None:
        bc_index, bc_guard, bc_bigrams = prebuilt
    else:
        bc_index, bc_guard = _lexicon_broadcasts(
            spark, lexicon_pairs,
            do_sym or (do_hard and alt_transcripts is not None),
        )
        bc_bigrams = (
            spark.sparkContext.broadcast(dict(bigram_pairs))
            if bigram_pairs is not None
            else None
        )

    df = assemble_transcripts(transcripts)
    if do_easy:
        df = df.withColumn("text", correct_easy_col("text"))
    if do_hard and alt_transcripts is not None:
        # Project the alt channel onto the BASE turn grid BEFORE
        # assembly (oracle spec.py:105-112, matching both fused plans):
        # alt-only turns are dropped, base turns missing from alt get an
        # empty slot — blocking cross-turn hyphen merges exactly where
        # the oracle blocks them — and slots inherit the base row's ts
        # so assembly walks both channels in the identical stable order.
        # Assembling alt over its OWN grid diverges byte-wise whenever
        # the grids differ (ADVICE r3).  Duplicate (conv_id, turn_idx)
        # alt rows collapse deterministically via max(text); duplicate
        # alt keys are outside the channel contract.
        alt_one = alt_transcripts.groupBy("conv_id", "turn_idx").agg(
            F.max("text").alias("_alt_text")
        )
        has_ts = "ts" in transcripts.columns
        grid = transcripts.select(
            "conv_id", "turn_idx", *(["ts"] if has_ts else [])
        )
        alt_proj = grid.join(
            alt_one, ["conv_id", "turn_idx"], "left"
        ).select(
            "conv_id",
            "turn_idx",
            *(["ts"] if has_ts else []),
            F.coalesce("_alt_text", F.lit("")).alias("text"),
        )
        alt = assemble_transcripts(alt_proj)
        df = correct_hard(df, alt, bc_guard)
    if do_sym:
        df = sym_wordcorrect(df, bc_index, bc_bigrams)
    return df.select(
        "conv_id", "turn_idx", F.col("text").alias("corrected_text")
    )


def _correct_pipeline_skew_routed(
    spark: SparkSession,
    transcripts: DataFrame,
    alt_transcripts: DataFrame | None,
    lexicon_pairs,
    do_easy: bool,
    do_hard: bool,
    do_sym: bool,
    num_partitions: int | None,
    bigram_pairs: dict | None,
    long_conv_threshold: int,
) -> DataFrame:
    """Route each conversation whole to the plan that handles its length:
    byte-equality is preserved because both plans are byte-equal per
    conversation and no conversation is split across plans.

    The whale-id list is computed ONCE, eagerly, on the driver
    (pathological conversations are few by definition — that premise is
    what makes the router correct at all): the previous lazy
    ``long_ids`` DataFrame was re-aggregated from scratch by each of
    the four branch joins (ADVICE r3).  Literal ``isin`` filters also
    let the scans prune instead of building four broadcast joins."""
    use_alt = do_hard and alt_transcripts is not None
    bc_index, bc_guard = _lexicon_broadcasts(
        spark, lexicon_pairs, do_sym or use_alt
    )
    bc_bigrams = (
        spark.sparkContext.broadcast(dict(bigram_pairs))
        if bigram_pairs is not None
        else None
    )
    prebuilt = (bc_index, bc_guard, bc_bigrams)
    long_list = [
        r["conv_id"]
        for r in transcripts.groupBy("conv_id")
        .agg(F.count("*").alias("_n"))
        .where(F.col("_n") > long_conv_threshold)
        .select("conv_id")
        .collect()
    ]
    if not long_list:
        # no whales: the partition walk handles everything — skip the
        # staged branch entirely
        return _correct_pipeline_partition(
            spark, transcripts, alt_transcripts, lexicon_pairs,
            do_easy, do_hard, do_sym, num_partitions, bigram_pairs,
            prebuilt=prebuilt,
        )
    # NULL-safe routing (ADVICE r3): a bare ``isin`` evaluates to NULL for
    # NULL conv_id rows, and ``where`` drops NULL — so NULL-key rows would
    # silently vanish from BOTH branches; worse, a None inside long_list
    # makes ``~isin([..., None])`` NULL for every non-member, dropping the
    # entire short corpus.  Split the membership test into a non-NULL
    # literal list plus an explicit isNull clause, and coalesce so the
    # predicate is two-valued.
    non_null_long = [x for x in long_list if x is not None]
    is_long = (
        F.coalesce(F.col("conv_id").isin(non_null_long), F.lit(False))
        if non_null_long
        else F.lit(False)
    )
    if len(non_null_long) != len(long_list):  # the NULL-key group is a whale
        is_long = is_long | F.col("conv_id").isNull()
    t_short = transcripts.where(~is_long)
    t_long = transcripts.where(is_long)
    a_short = a_long = None
    if alt_transcripts is not None:
        a_short = alt_transcripts.where(~is_long)
        a_long = alt_transcripts.where(is_long)
    short_out = _correct_pipeline_partition(
        spark, t_short, a_short, lexicon_pairs,
        do_easy, do_hard, do_sym, num_partitions, bigram_pairs,
        prebuilt=prebuilt,
    )
    long_out = _correct_pipeline_staged(
        spark, t_long, a_long, lexicon_pairs,
        do_easy, do_hard, do_sym, bigram_pairs,
        prebuilt=prebuilt,
    )
    return short_out.unionByName(long_out)


def _correct_pipeline_fused(
    spark: SparkSession,
    transcripts: DataFrame,
    alt_transcripts: DataFrame | None,
    lexicon_pairs,
    do_easy: bool,
    do_hard: bool,
    do_sym: bool,
    bigram_pairs: dict | None = None,
    augment: tuple | None = None,
) -> DataFrame:
    use_alt = do_hard and alt_transcripts is not None
    bc_index, bc_guard = _lexicon_broadcasts(
        spark, lexicon_pairs, do_sym or use_alt
    )
    bc_bigrams = (
        spark.sparkContext.broadcast(dict(bigram_pairs))
        if bigram_pairs is not None
        else None
    )

    def kernel(base_pdf: pd.DataFrame, alt_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(base_pdf) == 0:  # conv present only in the alt channel
            return pd.DataFrame(
                {"conv_id": [], "turn_idx": [], "corrected_text": []}
            )
        order_cols = (
            ["turn_idx", "ts"] if "ts" in base_pdf.columns else ["turn_idx"]
        )
        base_pdf = base_pdf.sort_values(order_cols, kind="mergesort")
        texts = assemble_turns(
            [t if isinstance(t, str) else "" for t in base_pdf["text"]]
        )
        if do_easy:
            texts = [correct_easy(t) for t in texts]
        if use_alt:
            amap = dict(zip(alt_pdf["turn_idx"], alt_pdf["text"]))
            alts = assemble_turns(
                [
                    amap.get(ti) if isinstance(amap.get(ti), str) else ""
                    for ti in base_pdf["turn_idx"]
                ]
            )
            mf = bc_guard.value
            texts = [
                alt_ocr_correct(t, a, mf) if t else t
                for t, a in zip(texts, alts)
            ]
        if do_sym:
            index = bc_index.value
            bgc = bc_bigrams.value if bc_bigrams is not None else None
            overlay = None
            if augment is not None:
                overlay = build_conv_delta(
                    index.words, conv_freqlist(texts), *augment,
                    base_top50=index.top50_sum,
                )
            memo: dict = {}
            texts = [
                word_correct_text(t, index, memo, bgc, overlay)
                for t in texts
            ]
        return pd.DataFrame(
            {
                "conv_id": base_pdf["conv_id"].to_numpy(),
                "turn_idx": base_pdf["turn_idx"].to_numpy(),
                "corrected_text": texts,
            }
        )

    cols = ["conv_id", "turn_idx", "text"] + (
        ["ts"] if "ts" in transcripts.columns else []
    )
    base = transcripts.select(*cols)
    if use_alt:
        alt = alt_transcripts.select("conv_id", "turn_idx", "text")
    else:
        alt = base.limit(0).select("conv_id", "turn_idx", "text")
    return (
        base.groupBy("conv_id")
        .cogroup(alt.groupBy("conv_id"))
        .applyInPandas(kernel, schema=_OUT_SCHEMA)
    )


def _correct_pipeline_partition(
    spark: SparkSession,
    transcripts: DataFrame,
    alt_transcripts: DataFrame | None,
    lexicon_pairs,
    do_easy: bool,
    do_hard: bool,
    do_sym: bool,
    num_partitions: int | None = None,
    bigram_pairs: dict | None = None,
    augment: tuple | None = None,
    prebuilt: tuple | None = None,
) -> DataFrame:
    """Single-shuffle plan: union both channels, hash-repartition by
    conv_id, sort within partitions, process whole partitions in one
    Arrow kernel.

    The repartition count is ``num_partitions`` when given, else
    ``kernel_partitions(defaultParallelism, S)`` with ``S`` the analyzed
    plan's size estimate of the unioned channels:
    ``P * clamp(ceil(S / (P * KERNEL_TASK_MIN_BYTES)), 1, 4)``.  Small
    inputs run one Python task per core (every further task on a core
    costs a worker hand-off that no kernel work pays for); large or
    unsized inputs (``createDataFrame``: ``Long.MaxValue``) keep four
    waves per core for load balance.

    A conversation can straddle consecutive Arrow batches of the same
    partition; the kernel carries the trailing conversation's rows to the
    next batch and flushes at end-of-partition — bounded state (one conv),
    no correctness compromise.  At 10^12 turns this is the scalable shape:
    shuffle size = inputs once, kernel overhead amortized over full
    2k-row batches, no per-group pandas construction.
    """
    use_alt = do_hard and alt_transcripts is not None
    # read on the driver: the kernel closure ships the values
    turn_cap, token_cap = TURN_MEMO_CAP, TOKEN_MEMO_CAP
    if prebuilt is not None:
        bc_index, bc_guard, bc_bigrams = prebuilt
    else:
        bc_index, bc_guard = _lexicon_broadcasts(
            spark, lexicon_pairs, do_sym or use_alt
        )
        bc_bigrams = (
            spark.sparkContext.broadcast(dict(bigram_pairs))
            if bigram_pairs is not None
            else None
        )

    has_ts = "ts" in transcripts.columns
    base = transcripts.select(
        "conv_id",
        "turn_idx",
        F.col("text"),
        F.lit(0).alias("side"),
        *([F.col("ts")] if has_ts else []),
    )
    if use_alt:
        alt = alt_transcripts.select(
            "conv_id",
            "turn_idx",
            F.col("text"),
            F.lit(1).alias("side"),
            # the ts contract is "orderable", not "timestamp" — fill the
            # alt side with a typed NULL of whatever type the base
            # carries (a hardcoded timestamp cast broke unionByName for
            # e.g. bigint epoch columns; ADVICE r3)
            *(
                [
                    F.lit(None)
                    .cast(transcripts.schema["ts"].dataType)
                    .alias("ts")
                ]
                if has_ts
                else []
            ),
        )
        u = base.unionByName(alt)
    else:
        u = base
    sort_cols = ["conv_id", "side", "turn_idx"] + (["ts"] if has_ts else [])
    # Explicit partition count: the kernel stage is CPU-bound per row, so
    # AQE's byte-based partition coalescing (64 MB advisory) would collapse
    # it to a handful of tasks and serialize the Python work.  The count
    # (see the docstring) is explicit either way; benchmarks pin
    # ``num_partitions`` across parallelism levels so both levels do
    # identical physical work.
    n_part = num_partitions or kernel_partitions(
        spark.sparkContext.defaultParallelism, _estimated_bytes(u)
    )
    d = u.repartition(n_part, "conv_id").sortWithinPartitions(*sort_cols)
    if has_ts:
        # ts orders duplicate turn_idx rows within the partition sort; the
        # kernel itself never reads it — drop it before the Arrow transfer
        # (narrow projection, intra-partition order preserved).
        d = d.select("conv_id", "turn_idx", "text", "side")

    def process(
        pdf: pd.DataFrame, index, mf, memo: dict, bgc=None,
        easy_memo: dict | None = None, alt_memo: dict | None = None,
    ) -> pd.DataFrame:
        conv_out, turn_out, text_out = [], [], []
        convs = pdf["conv_id"].to_numpy()
        sides = pdf["side"].to_numpy()
        turn_idx = pdf["turn_idx"].to_numpy()
        texts_in = pdf["text"].tolist()
        n = len(convs)
        start = 0
        while start < n:
            end = start
            cid = convs[start]
            while end < n and convs[end] == cid:
                end += 1
            base_ti, base_tx, alt_map = [], [], {}
            for k in range(start, end):
                if sides[k] == 0:
                    base_ti.append(turn_idx[k])
                    base_tx.append(
                        texts_in[k] if isinstance(texts_in[k], str) else ""
                    )
                else:
                    alt_map[turn_idx[k]] = texts_in[k]
            start = end
            if not base_ti:
                continue
            texts = assemble_turns(base_tx)
            if do_easy:
                # per-partition memo of the pure per-turn regex chain
                # (r7): replicated corpora repeat turn texts within a
                # partition, and the memo is the same deterministic
                # pure-function cache as the token-suggestion memo below
                if easy_memo is None:
                    texts = [correct_easy(t) for t in texts]
                else:
                    out = []
                    for t in texts:
                        v = easy_memo.get(t)
                        if v is None:
                            v = easy_memo[t] = correct_easy(t)
                        out.append(v)
                    texts = out
            if use_alt:
                alts = assemble_turns(
                    [
                        alt_map.get(ti)
                        if isinstance(alt_map.get(ti), str)
                        else ""
                        for ti in base_ti
                    ]
                )
                if alt_memo is None:
                    texts = [
                        alt_ocr_correct(t, a, mf) if t else t
                        for t, a in zip(texts, alts)
                    ]
                else:
                    # keyed on the exact (text, alt) argument pair — a
                    # pure per-turn function, so the cache cannot
                    # change bytes, only skip recomputation
                    out = []
                    for t, a in zip(texts, alts):
                        if not t:
                            out.append(t)
                            continue
                        v = alt_memo.get((t, a))
                        if v is None:
                            v = alt_memo[(t, a)] = alt_ocr_correct(
                                t, a, mf
                            )
                        out.append(v)
                    texts = out
            if do_sym:
                if augment is not None:
                    # conv-scoped overlay + memo: suggestions depend on
                    # this conversation's own augmented dictionary
                    overlay = build_conv_delta(
                        index.words, conv_freqlist(texts), *augment,
                        base_top50=index.top50_sum,
                    )
                    conv_memo: dict = {}
                    texts = [
                        word_correct_text(
                            t, index, conv_memo, bgc, overlay
                        )
                        for t in texts
                    ]
                else:
                    texts = [
                        word_correct_text(t, index, memo, bgc)
                        for t in texts
                    ]
            conv_out.extend([cid] * len(base_ti))
            turn_out.extend(base_ti)
            text_out.extend(texts)
        return pd.DataFrame(
            {
                "conv_id": conv_out,
                "turn_idx": pd.array(turn_out, dtype="int32"),
                "corrected_text": text_out,
            }
        )

    def kernel(batches):
        # broadcast deref + memos once per partition, not per Arrow
        # batch: every memo is a pure-function cache (deterministic), so
        # partition scope only raises its hit rate.  r7 adds turn-level
        # memos for the easy regex chain and the (text, alt) alignment —
        # replicated/duplicated corpora repeat whole turns within a
        # partition, and the alignment is the kernel's dominant term.
        index = bc_index.value if do_sym else None
        mf = bc_guard.value if use_alt else None
        bgc = bc_bigrams.value if bc_bigrams is not None else None
        memo = _BoundedMemo(token_cap)
        easy_memo = _BoundedMemo(turn_cap)
        alt_memo = _BoundedMemo(turn_cap)
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if len(pdf) == 0:
                carry = None
                continue
            last = pdf["conv_id"].iloc[-1]
            boundary = (pdf["conv_id"] == last).idxmax()
            done = pdf.iloc[:boundary]
            carry = pdf.iloc[boundary:]
            if len(done):
                yield process(
                    done, index, mf, memo, bgc, easy_memo, alt_memo
                )
        if carry is not None and len(carry):
            yield process(
                carry, index, mf, memo, bgc, easy_memo, alt_memo
            )

    return d.mapInPandas(kernel, schema=_OUT_SCHEMA)
