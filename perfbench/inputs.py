"""Seeded input generators for the benchmark.

Every table is a pure function of ``seed`` and its size arguments, so the
same seed gives the same bytes on every run.  The program under test only
ever sees the generated parquet files.

* ``documents`` / ``embeddings`` mirror the shape of the repository's
  ``documents`` and ``embeddings`` test tables: a 30-word vocabulary,
  10-100 words per document, one document in twenty a near-duplicate of
  an earlier one (its text plus " dup"), 64-d unit embeddings with ten
  labels.  The registry queries read them through ``{dir}/{name}.parquet``.
* ``distinct_fixture`` is ``sources.fixtures.make_fixture`` with the seed
  folded into every hash key, so each seed gives a different corpus with
  the same noise model: every turn distinct, a 100-word lexicon, every
  7th conversation 8x longer.
"""

from __future__ import annotations

import os
from unittest import mock

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream"
    " table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (0.41, 0.15, 0.15, 0.15, 0.14)
DUP_SHARE = 0.05
TRANSCRIPT_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)
ALT_SCHEMA = pa.schema(
    [("conv_id", pa.string()), ("turn_idx", pa.int32()), ("text", pa.string())]
)


def documents(seed: int, n_docs: int) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    lengths = rng.integers(10, 101, n_docs)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    ends = np.cumsum(lengths)
    texts = [
        " ".join(VOCAB[w] for w in words[e - n : e])
        for n, e in zip(lengths, ends)
    ]
    # near-duplicates: a later document repeats an earlier one plus a marker
    dups = rng.choice(np.arange(1, n_docs), int(n_docs * DUP_SHARE), False)
    for i in sorted(dups):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    langs = rng.choice(len(LANGS), n_docs, p=LANG_WEIGHTS)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": [LANGS[i] for i in langs],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(seed: int, n_vecs: int, dim: int = 64) -> pa.Table:
    rng = np.random.default_rng([seed, 2])
    v = rng.standard_normal((n_vecs, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.ravel(), pa.float32())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(flat, dim).cast(
                pa.list_(pa.float32())
            ),
            "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
        }
    )


def write_tables(out_dir: str, tables: dict[str, pa.Table]) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def distinct_fixture(seed: int, n_convs: int, turns_per_conv: int):
    """(transcripts, alt, lexicon) rows from make_fixture with every hash
    key prefixed by the seed."""
    from memo_fraktur_ocr_code_spark.sources import fixtures

    plain = fixtures._h
    with mock.patch.object(
        fixtures, "_h", lambda *parts: plain(seed, *parts)
    ):
        return fixtures.make_fixture(
            n_convs=n_convs, turns_per_conv=turns_per_conv
        )


def write_rows(path: str, rows: list[dict], schema: pa.Schema, files: int) -> None:
    """Write ``rows`` as ``files`` parquet files under directory ``path``."""
    os.makedirs(path, exist_ok=True)
    step = -(-len(rows) // files)
    for i in range(files):
        chunk = rows[i * step : (i + 1) * step]
        pq.write_table(
            pa.Table.from_pylist(chunk, schema),
            os.path.join(path, f"part-{i:03d}.parquet"),
        )


def pair_repeat_share(pairs) -> float:
    """Share of (text, alt) pairs that repeat an earlier pair."""
    return 1.0 - len(set(pairs)) / max(len(pairs), 1)
