"""End-to-end transcript curation pipeline job.

Composes the conversation-level transcript operator family
(operators/transcripts.py) into the DAG an SFT/agent-trace corpus
pipeline actually runs, turns-in → training-artifacts-out, with a
per-stage funnel summary:

1. **validate** — role-sequence admission gate
   (transcripts.validate_turn_sequence): conversations that don't start
   with ``user``, repeat a role in consecutive turns, or contain empty
   turns are dropped whole.
2. **sessionize** — time-gap splitting (transcripts.split_sessions):
   each sitting becomes its own conversation unit
   (``conv_id#session_idx``) so the later stages never mix sittings.
3. **prefix dedup** — sessions sharing a rendered first-k-turn prefix
   collapse to one keeper (transcripts.conversation_prefix_groups).
   Dedup runs BEFORE the boilerplate stage on purpose: the shared
   system prompt that makes duplicate runs identical IS boilerplate,
   and stripping it first would blind the dedup to exactly the
   conversations it exists to collapse.
4. **boilerplate turns** — cross-conversation repeated turns dropped
   from the deduped survivors (transcripts.flag_boilerplate_turns);
   after dedup, a legitimate one-of-a-kind system prompt has
   conversation-frequency 1 and survives, while canned banners that
   recur across unrelated conversations still exceed the threshold.
   Sessions whose role sequence BREAKS because of a removed turn (two
   same-role turns becoming adjacent) are re-validated and dropped —
   the pipeline never ships a defect its own gate rejects.
5. **truncate** — longest suffix within the token budget
   (transcripts.truncate_to_token_budget).  Truncation keeps a
   contiguous suffix, so it cannot break role adjacency; it can change
   the FIRST role, which is deliberate (an SFT suffix need not open
   with ``user``).
6. **emit** — rendered training documents
   (transcripts.render_conversation), SFT (context, target) pairs
   (transcripts.sft_context_windows), per-conversation tool-usage
   stats (transcripts.tool_call_stats), and the final turn table.

Every stage is the already-oracle-verified operator — this job adds the
composition, the funnel accounting, and the sinks.  Scale shape: every
stage keys on ``conv_id`` (the same key as the flagship pipeline and the
``bucket(conv_id)`` layout — shuffle-free over bucketed tables); the two
fan-out points (post-boilerplate turns feed prefix dedup, and the final
turn table feeds three sinks) are materialized through the
checkpoint-manifest layer (plans/checkpoint.py), so a crash mid-run
resumes with ``--resume`` at bucket granularity and finished stages are
read back without recompute.  Funnel counts are one action per stage —
constant driver work.

Usage:
  python jobs/run_transcript_curation.py <turns_parquet> <out_dir>
      [--budget N] [--gap-s N] [--resume]
  python jobs/run_transcript_curation.py --demo <work_dir>
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TURN_COLS = ("conv_id", "turn_idx", "role", "text", "tool", "ts")


def curate_transcripts(
    spark: SparkSession,
    turns: DataFrame,
    out_dir: str,
    gap_s: int = 1800,
    max_conv_df: int = 3,
    prefix_k: int = 2,
    budget: int = 2048,
    sft_k: int = 3,
    resume: bool = False,
    n_ckpt_buckets: int = 16,
) -> dict:
    from memo_fraktur_ocr_code_spark.operators.transcripts import (
        conversation_prefix_groups,
        flag_boilerplate_turns,
        render_conversation,
        sft_context_windows,
        split_sessions,
        tool_call_stats,
        truncate_to_token_budget,
        validate_turn_sequence,
    )
    from memo_fraktur_ocr_code_spark.plans import checkpoint as ckpt
    from memo_fraktur_ocr_code_spark.plans.checkpoint import (
        read_stage,
        run_stage_checkpointed,
    )

    ckpt_dir = f"{out_dir}/stages"
    done_path = f"{ckpt_dir}/_stages_done"
    if not resume:
        ckpt.delete_recursive(spark, ckpt_dir)

    def _stages_done() -> dict[str, str]:
        try:
            return {
                r["stage"]: r["input_fingerprint"]
                for r in spark.read.parquet(done_path).collect()
            }
        except Exception:
            return {}

    # content-hashed input fingerprint: resuming a DIFFERENT corpus into
    # the same out_dir must refuse.  The hash covers EVERY column a
    # stage consumes (ts drives sessionization, role drives validation
    # and the prefix signature, tool reaches the stats sink), and the
    # fingerprint string carries every tuning parameter that changes a
    # checkpointed stage's output — otherwise --resume with, say, a
    # different budget would silently ship the old budget's truncation
    # (code-review r5 s3)
    fpr = turns.agg(
        F.count("*").alias("n"),
        F.countDistinct("conv_id").alias("convs"),
        F.expr(
            "bit_xor(xxhash64(conv_id, turn_idx, role, text, tool, ts))"
        ).alias("xh"),
    ).collect()[0]
    fp = (
        f"turns:{fpr['n']}:{fpr['convs']}:{fpr['xh'] or 0}"
        f":gap={gap_s}:df={max_conv_df}:k={prefix_k}"
        f":budget={budget}"
    )

    def _stage(name: str, build) -> DataFrame:
        done = _stages_done()
        if name in done:
            if done[name] != fp:
                raise ValueError(
                    f"stage '{name}' in '{ckpt_dir}' was completed for"
                    f" input '{done[name]}', refusing to resume with"
                    f" '{fp}'"
                )
            return read_stage(spark, ckpt_dir, name)
        run_stage_checkpointed(
            spark,
            build(),
            ckpt_dir,
            name,
            bucket_col="conv_id",
            n_buckets=n_ckpt_buckets,
            input_fingerprint=fp,
        )
        spark.createDataFrame(
            [(name, fp)], "stage string, input_fingerprint string"
        ).write.mode("append").parquet(done_path)
        return read_stage(spark, ckpt_dir, name)

    funnel: dict[str, int] = {
        "input_turns": int(fpr["n"]),
        "input_convs": int(fpr["convs"]),
    }

    # 1. validation gate — drop malformed conversations WHOLE (a repeat
    # or empty turn poisons the whole training example, not one turn)
    valid_ids = validate_turn_sequence(turns).where(
        F.col("is_valid") == 1
    )
    turns_v = turns.join(valid_ids.select("conv_id"), "conv_id")
    funnel["valid_convs"] = valid_ids.count()

    # 2. sessionize and RE-KEY: each sitting becomes its own unit, so
    # prefix dedup / truncation / rendering never straddle a gap.
    # turn_idx stays unique inside a session (subsetting preserves it),
    # so stable ordering carries over unchanged.  Materialized: this
    # table feeds the prefix-group aggregation AND the keeper join.
    def _build_sessioned():
        return split_sessions(turns_v, gap_s=gap_s).select(
            F.concat_ws("#", "conv_id", "session_idx").alias(
                "conv_id"
            ),
            *[c for c in TURN_COLS if c != "conv_id"],
        )

    sessioned = _stage("sessioned", _build_sessioned)
    funnel["sessions"] = (
        sessioned.select("conv_id").distinct().count()
    )

    # 3. shared-prefix dedup FIRST (see module docstring: stripping the
    # shared system prompt before dedup would blind the dedup).  The
    # keeper set is itself a (cheap, conversation-sized) checkpointed
    # stage so the prefix aggregation runs ONCE — the funnel count and
    # the join below both read the materialized table rather than
    # re-electing keepers (code-review r5 s3).
    def _build_keepers():
        groups = conversation_prefix_groups(sessioned, k=prefix_k)
        return groups.where(F.col("is_kept") == 1).select("conv_id")

    keepers = _stage("keepers", _build_keepers)
    funnel["sessions_after_prefix_dedup"] = keepers.count()
    turns_d = sessioned.join(keepers, "conv_id")

    # 4. boilerplate turns over the deduped survivors (cross-SESSION df
    # after the re-key — a canned banner repeating across sittings of
    # one conversation counts too, which is exactly the boilerplate
    # definition).  Materialized: the normalize+distinct-count work runs
    # once; the funnel delta is two counts over materialized tables
    # plus one cheap join of them.
    def _build_clean():
        flagged = flag_boilerplate_turns(
            turns_d, max_conv_df=max_conv_df
        )
        return flagged.where(F.col("is_boilerplate") == 0).select(
            *TURN_COLS
        )

    turns_c = _stage("clean_turns", _build_clean)
    funnel["boilerplate_turns_dropped"] = int(turns_d.count()) - int(
        turns_c.count()
    )

    # 4b. re-validate the role sequence AFTER turn removal: dropping a
    # boilerplate turn can make two same-role turns adjacent — exactly
    # the defect the admission gate rejects — so sessions broken by the
    # strip are dropped here rather than shipped (code-review r5 s3).
    # (Truncation below cannot break adjacency: it keeps a contiguous
    # suffix.  It CAN change the first role — deliberate: an SFT suffix
    # need not open with `user`, and re-imposing that here would evict
    # every truncated session.)
    revalid = validate_turn_sequence(turns_c)
    broken = revalid.where(F.col("n_role_repeats") > 0)
    funnel["role_broken_after_strip_dropped"] = broken.count()
    turns_c = turns_c.join(
        revalid.where(F.col("n_role_repeats") == 0).select("conv_id"),
        "conv_id",
    )

    # 5. token-budget suffix truncation; the final turn table is the
    # second materialization point (three sinks consume it)
    def _build_final(prev=turns_c):
        kept = truncate_to_token_budget(prev, budget=budget)
        return kept.where(F.col("keep") == 1).select(
            *TURN_COLS, "n_tokens"
        )

    turns_f = _stage("final_turns", _build_final)
    funnel["final_turns"] = turns_f.count()
    funnel["final_convs"] = (
        turns_f.select("conv_id").distinct().count()
    )

    # 6. sinks: final turns, rendered documents, SFT pairs, tool stats
    turns_f.write.mode("overwrite").parquet(f"{out_dir}/turns")
    rendered = render_conversation(turns_f)
    rendered.write.mode("overwrite").parquet(f"{out_dir}/rendered")
    sft = sft_context_windows(turns_f, k=sft_k)
    sft.write.mode("overwrite").parquet(f"{out_dir}/sft_pairs")
    tool_call_stats(turns_f).write.mode("overwrite").parquet(
        f"{out_dir}/tool_stats"
    )
    funnel["sft_pairs"] = spark.read.parquet(
        f"{out_dir}/sft_pairs"
    ).count()

    summary = {
        "funnel": funnel,
        "total_rendered_chars": int(
            spark.read.parquet(f"{out_dir}/rendered")
            .agg(F.sum("n_chars"))
            .collect()[0][0]
            or 0
        ),
        "total_tokens": int(
            turns_f.agg(F.sum("n_tokens")).collect()[0][0] or 0
        ),
    }
    with open(
        os.path.join(out_dir, "transcript_curation_summary.json"), "w"
    ) as f:
        json.dump(summary, f, indent=2)
    return summary


_CANNED_SYS = "You are a helpful agent."
_CANNED_OPENER = "Hello, I need help with my task."
_CANNED_BANNER = (
    "This response was generated automatically. "
    "Do not reply to this message."
)


def _demo_turns(spark: SparkSession) -> DataFrame:
    """Deterministic demo transcripts from the sf0.001 documents table
    with one plant per funnel stage: an assistant-first conversation
    (validation), a >30-min timestamp jump before the trailing turns
    (sessionize), a canned banner turn on every even conversation
    (boilerplate), a shared system-prompt+opener prefix on every fifth
    conversation (prefix dedup), and organic long conversations (budget
    truncation)."""
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    per = F.greatest((F.size(toks) / 4).cast("int"), F.lit(1))
    body = (
        docs.select(
            "doc_id",
            per.alias("per"),
            "text",
            F.posexplode(F.sequence(F.lit(0), F.lit(3))).alias(
                "ti", "_u"
            ),
        )
        .select(
            "doc_id",
            "ti",
            F.array_join(
                F.slice(
                    F.split("text", " "),
                    F.col("ti") * F.col("per") + 1,
                    F.col("per"),
                ),
                " ",
            ).alias("text"),
        )
        # whitespace-only slices would (correctly) invalidate the whole
        # conversation at the gate; the demo wants most organic convs
        # to survive so downstream plants stay observable
        .where(F.trim(F.col("text")) != "")
        .select(
            F.concat(F.lit("conv"), F.col("doc_id")).alias("conv_id"),
            F.col("ti").cast("int").alias("turn_idx"),
            F.when(F.col("ti") % 2 == 0, "user")
            .otherwise("assistant")
            .alias("role"),
            # every fifth conversation shares a canned 2-turn prefix
            F.when(
                (F.col("doc_id") % 5 == 0) & (F.col("ti") == 0),
                _CANNED_SYS,
            )
            .when(
                (F.col("doc_id") % 5 == 0) & (F.col("ti") == 1),
                _CANNED_OPENER,
            )
            .otherwise(F.col("text"))
            .alias("text"),
            F.when(
                F.col("ti") == 3,
                F.concat(
                    F.lit("t"), (F.col("doc_id") % 3).cast("string")
                ),
            ).alias("tool"),
        )
    )
    docs_ids = docs.select("doc_id")
    banner = docs_ids.where(F.col("doc_id") % 2 == 0).select(
        F.concat(F.lit("conv"), F.col("doc_id")).alias("conv_id"),
        F.lit(8).alias("turn_idx"),
        F.lit("user").alias("role"),
        F.lit(_CANNED_BANNER).alias("text"),
        F.lit(None).cast("string").alias("tool"),
    )
    # closer text is unique per conversation (it must survive the
    # boilerplate stage), and its role alternates with the preceding
    # turn: after the banner (user, even convs) it is the assistant;
    # odd conversations end on the assistant turn 3, so their closer
    # is a user turn
    closer = docs_ids.select(
        F.concat(F.lit("conv"), F.col("doc_id")).alias("conv_id"),
        F.lit(9).alias("turn_idx"),
        F.when(F.col("doc_id") % 2 == 0, "assistant")
        .otherwise("user")
        .alias("role"),
        F.concat(
            F.lit("Certainly, here is the final answer for case "),
            F.col("doc_id").cast("string"),
            F.lit("."),
        ).alias("text"),
        F.lit(None).cast("string").alias("tool"),
    )
    bad = spark.createDataFrame(
        [
            ("badconv", 0, "assistant", "I speak first", None),
            ("badconv", 1, "user", "that is malformed", None),
        ],
        "conv_id string, turn_idx int, role string, text string,"
        " tool string",
    )
    out = (
        body.unionByName(banner).unionByName(closer).unionByName(bad)
    )
    # 60 s cadence inside the body; turns 8/9 land ~6.5 h later → a
    # second session per conversation
    return out.withColumn(
        "ts",
        F.timestamp_seconds(
            F.lit(1700000000)
            + F.when(F.col("turn_idx") < 8, F.col("turn_idx") * 60)
            .otherwise(F.lit(24000) + F.col("turn_idx") * 60)
        ),
    )


def _demo(work_dir: str) -> dict:
    import shutil

    from memo_fraktur_ocr_code_spark.session import get_spark

    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir, exist_ok=True)
    spark = get_spark(master="local[8]", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("WARN")
    turns = _demo_turns(spark)
    summary = curate_transcripts(
        spark,
        turns,
        work_dir,
        gap_s=1800,
        max_conv_df=3,
        prefix_k=2,
        budget=60,
        sft_k=3,
    )
    f = summary["funnel"]

    # validation: the assistant-first plant is gone, organics survive
    assert f["valid_convs"] < f["input_convs"], f
    kept_convs = {
        r["conv_id"]
        for r in spark.read.parquet(f"{work_dir}/turns")
        .select("conv_id")
        .distinct()
        .collect()
    }
    assert not any(c.startswith("badconv") for c in kept_convs), (
        "invalid conversation leaked through the gate"
    )

    # sessionize: the 6.5 h jump split every surviving conversation
    assert f["sessions"] > f["valid_convs"], f

    # prefix dedup: the canned-prefix sessions collapsed to one keeper
    # (the expected group is counted from the materialized sessioned
    # stage — sessions whose opening turn is the canned system prompt)
    expected_group = (
        spark.read.parquet(f"{work_dir}/stages/sessioned")
        .where(
            (F.col("turn_idx") == 0) & (F.col("text") == _CANNED_SYS)
        )
        .select("conv_id")
        .distinct()
        .count()
    )
    assert expected_group > 3, expected_group
    # the documents table carries planted exact-duplicate docs (the
    # dedup operators' fixtures), whose identical turn slices also
    # collapse — so total drops exceed the canned group by a few
    dropped = f["sessions"] - f["sessions_after_prefix_dedup"]
    assert dropped >= expected_group - 1, (dropped, expected_group)
    # ...and exactly ONE keeper of the canned-prefix group survives
    canned_kept = (
        spark.read.parquet(f"{work_dir}/stages/final_turns")
        .where(F.col("text") == _CANNED_OPENER)
        .select("conv_id")
        .distinct()
        .count()
    )
    assert canned_kept <= 1, canned_kept

    # boilerplate: the banner repeats across ~250 deduped sessions →
    # dropped; the per-conversation-unique closers survive; the
    # keeper's system prompt (conversation-frequency 1 after dedup)
    # is NOT flagged
    assert f["boilerplate_turns_dropped"] >= 250, f
    final_texts = (
        spark.read.parquet(f"{work_dir}/turns")
        .where(F.col("text") == _CANNED_BANNER)
        .count()
    )
    assert final_texts == 0, "banner turn leaked through"

    # truncation: budget respected for every conversation
    per_conv = (
        spark.read.parquet(f"{work_dir}/turns")
        .groupBy("conv_id")
        .agg(F.sum("n_tokens").alias("t"))
        .agg(F.max("t"))
        .collect()[0][0]
    )
    assert per_conv <= 60, per_conv
    assert f["final_turns"] > 0 and f["sft_pairs"] > 0, f

    # SFT pairs only condition on non-empty context
    sft = spark.read.parquet(f"{work_dir}/sft_pairs")
    assert sft.where(F.col("n_context_turns") < 1).count() == 0
    print(json.dumps(summary, indent=2))
    return summary


def main(argv: list[str]) -> None:
    if len(argv) >= 2 and argv[0] == "--demo":
        _demo(argv[1])
        return
    if len(argv) < 2:
        print(__doc__)
        sys.exit(2)
    src, out_dir = argv[0], argv[1]
    kw: dict = {}
    rest = argv[2:]
    while rest:
        flag = rest.pop(0)
        if flag == "--resume":
            kw["resume"] = True
        elif flag == "--budget":
            kw["budget"] = int(rest.pop(0))
        elif flag == "--gap-s":
            kw["gap_s"] = int(rest.pop(0))
        else:
            raise SystemExit(f"unknown flag {flag}")
    from memo_fraktur_ocr_code_spark.session import job_session

    spark = job_session("memo-transcript-curation")
    os.makedirs(out_dir, exist_ok=True)
    summary = curate_transcripts(
        spark, spark.read.parquet(src), out_dir, **kw
    )
    print(json.dumps(summary, indent=2))


if __name__ == "__main__":
    main(sys.argv[1:])
