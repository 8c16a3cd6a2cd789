"""Direct calls into the per-turn correction kernels on a fixed sample.

The sample is the first conversations (in conv_id order) of the
workload's input until ``min_turns`` turns are covered.  Each stage runs
on the previous stage's output, in ``oracle.spec.correct_conversation``'s
order, so every kernel sees the text it sees in the pipeline.
"""

from __future__ import annotations

import statistics
import time

from memo_fraktur_ocr_code_spark.functions.alignment import alt_ocr_correct
from memo_fraktur_ocr_code_spark.functions.symspell import (
    SymSpellIndex,
    word_correct_text,
)
from memo_fraktur_ocr_code_spark.functions.textspec import (
    assemble_turns,
    correct_easy,
)


def sample_conversations(by_conv: dict, min_turns: int) -> list:
    """[(texts, alts)] per conversation, turns in (turn_idx, ts) order."""
    out, n = [], 0
    for conv_id in sorted(by_conv):
        turns = by_conv[conv_id]
        out.append(([t["text"] for t in turns], [t["alt"] for t in turns]))
        n += len(turns)
        if n >= min_turns:
            break
    return out


def _stage_times(convs, index, most_frequent) -> tuple[dict, int]:
    times = dict.fromkeys(("assemble", "easy", "align", "sym"), 0.0)
    memo_entries = 0
    for texts, alts in convs:
        t0 = time.perf_counter()
        base = assemble_turns(list(texts))
        alt = assemble_turns(list(alts))
        t1 = time.perf_counter()
        base = [correct_easy(t) for t in base]
        t2 = time.perf_counter()
        base = [
            alt_ocr_correct(t, a, most_frequent) if t else t
            for t, a in zip(base, alt)
        ]
        t3 = time.perf_counter()
        memo: dict = {}
        for t in base:
            word_correct_text(t, index, memo)
        t4 = time.perf_counter()
        for k, a, b in (
            ("assemble", t0, t1), ("easy", t1, t2),
            ("align", t2, t3), ("sym", t3, t4),
        ):
            times[k] += b - a
        memo_entries += len(memo)
    return times, memo_entries


def kernel_metrics(convs, lexicon, repeats: int = 3) -> dict:
    """Median microseconds per turn for each kernel stage over
    ``repeats`` passes, plus SymSpell memo entries per turn."""
    index = SymSpellIndex.from_pairs(lexicon)
    most_frequent = frozenset(t for t, _c in lexicon[:600])
    turns = sum(len(texts) for texts, _a in convs)
    runs = [_stage_times(convs, index, most_frequent) for _ in range(repeats)]
    us = {
        k: statistics.median(r[0][k] for r in runs) * 1e6 / turns
        for k in runs[0][0]
    }
    return {
        "textspec.assemble_us_per_turn": us["assemble"],
        "textspec.easy_us_per_turn": us["easy"],
        "alignment.align_us_per_turn": us["align"],
        "symspell.sym_us_per_turn": us["sym"],
        "symspell.memo_entries_per_turn": runs[0][1] / turns,
    }
