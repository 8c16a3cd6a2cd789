"""Kernel-stage partition count of the partition-walk correction plan.

``kernel_partitions`` sizes the ``conv_id`` repartition from Catalyst's
size estimate of the kernel input: one task wave per core for small
inputs, up to four for large or unsized ones, and an explicit
``num_partitions`` wins.  The equality suite feeds ``createDataFrame``
inputs (unsized, so four waves); the parquet-backed cases here are the
only ones that run the one-wave path.
"""

from __future__ import annotations

import re

import pytest

from memo_fraktur_ocr_code_spark.oracle.spec import correct_corpus
from memo_fraktur_ocr_code_spark.plans.pipeline import (
    KERNEL_TASK_MIN_BYTES,
    correct_pipeline,
    kernel_partitions,
)
from memo_fraktur_ocr_code_spark.sources.fixtures import make_fixture

LONG_MAX = (1 << 63) - 1
_BASE_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)
_ALT_SCHEMA = "conv_id string, turn_idx int, text string"


@pytest.mark.parametrize(
    "size, waves",
    [
        (0, 1),
        (1, 1),
        (4 * KERNEL_TASK_MIN_BYTES, 1),
        (4 * KERNEL_TASK_MIN_BYTES + 1, 2),
        (8 * KERNEL_TASK_MIN_BYTES + 1, 3),
        (1 << 40, 4),
        (LONG_MAX, 4),
        (2 * LONG_MAX, 4),  # a union of two unsized inputs
    ],
)
def test_kernel_partitions_rule(size, waves):
    assert kernel_partitions(4, size) == 4 * waves


def _kernel_exchanges(df) -> list[int]:
    """Partition counts of the plan's conv_id hash exchanges."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [
        int(n)
        for n in re.findall(r"hashpartitioning\(conv_id#\d+, (\d+)\)", plan)
    ]


def _parquet_inputs(spark, tmp_path, n_convs, turns_per_conv=4):
    base, alt, lexicon = make_fixture(
        n_convs=n_convs, turns_per_conv=turns_per_conv
    )
    for name, rows, schema in (
        ("base", base, _BASE_SCHEMA),
        ("alt", alt, _ALT_SCHEMA),
    ):
        spark.createDataFrame(rows, schema).repartition(4).write.parquet(
            str(tmp_path / name)
        )
    return (
        spark.read.parquet(str(tmp_path / "base")),
        spark.read.parquet(str(tmp_path / "alt")),
        base,
        alt,
        lexicon,
    )


@pytest.mark.parametrize("fused", [True, "auto"])
def test_small_parquet_input_runs_one_wave(spark, tmp_path, fused):
    """A small sized input gets one task per core, and the one-wave path
    stays byte-equal to the oracle."""
    p = spark.sparkContext.defaultParallelism
    tdf, adf, base, alt, lexicon = _parquet_inputs(spark, tmp_path, 12)
    out = correct_pipeline(spark, tdf, adf, lexicon, fused=fused)
    assert _kernel_exchanges(out) == [p]
    got = {(r.conv_id, r.turn_idx): r.corrected_text for r in out.collect()}
    want = {
        (r["conv_id"], r["turn_idx"]): r["corrected_text"]
        for r in correct_corpus(base, alt, lexicon)
    }
    assert got == want


def test_benchmark_sized_input_runs_one_wave(spark, tmp_path):
    """The correction benchmark's shape (160 conversations of 20 turns,
    6,420 turns, ~0.7 MB estimated) stays under one wave per core."""
    p = spark.sparkContext.defaultParallelism
    tdf, adf, _, _, lexicon = _parquet_inputs(spark, tmp_path, 160, 20)
    out = correct_pipeline(spark, tdf, adf, lexicon)
    assert _kernel_exchanges(out) == [p]


def test_unsized_input_keeps_four_waves(spark):
    p = spark.sparkContext.defaultParallelism
    base, alt, lexicon = make_fixture(n_convs=4)
    out = correct_pipeline(
        spark,
        spark.createDataFrame(base, _BASE_SCHEMA),
        spark.createDataFrame(alt, _ALT_SCHEMA),
        lexicon,
    )
    assert _kernel_exchanges(out) == [4 * p]


def test_explicit_num_partitions_wins(spark, tmp_path):
    tdf, adf, _, _, lexicon = _parquet_inputs(spark, tmp_path, 4)
    out = correct_pipeline(spark, tdf, adf, lexicon, num_partitions=7)
    assert _kernel_exchanges(out) == [7]
