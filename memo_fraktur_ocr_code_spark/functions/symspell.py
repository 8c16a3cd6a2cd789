"""SymSpell-style dictionary corrector (deletion-variant index).

A from-scratch implementation of the symmetric-delete spelling-correction
algorithm (Garbe's SymSpell, public algorithm) specialized for this
pipeline.  The reference drives ``symspellpy`` with
``lookup(word, Verbosity.TOP, max_edit_distance=2, transfer_casing=True)``
(memoocr/correct_ocr.py:347-375); this module re-specifies that behavior
deterministically:

* candidate generation — all prefix-limited deletes up to ``max_edit``;
* metric — OSA (Damerau) distance with band cutoff;
* TOP selection — smallest distance, then highest count, then
  lexicographically smallest term (explicit total order: symspellpy's
  tie-break on insertion order is replaced by a deterministic one);
* transfer_casing — the faithful char-level diff transfer of
  symspellpy's ``transfer_casing_for_similar_text`` (helpers.py, public
  algorithm; r5 — replaces the earlier two-rule simplification): align
  ``lower(original)`` to the suggestion with sequence-matcher opcodes
  and copy casing per block (see ``transfer_casing``).

The index is built once on the driver from the broadcast lexicon table and
shipped to executors via ``SparkContext.broadcast``; lookups run inside
Arrow-batched kernels with per-batch memoization (Zipfian token streams
make the memo hit rate very high).
"""

from __future__ import annotations

from collections import defaultdict
from difflib import SequenceMatcher
from functools import lru_cache

from memo_fraktur_ocr_code_spark.functions.levtools import osa_distance
from memo_fraktur_ocr_code_spark.functions.textspec import (
    FALSE_POSITIVE_PAIRS,
    KEEP_PUNCT,
    NOISE_TOKENS,
    PAGEBREAK,
    tokenize,
)

DEFAULT_MAX_EDIT = 2
DEFAULT_PREFIX_LEN = 7
# entry cap of SymSpellIndex._cand_cache (per process; emptied when full)
CAND_CACHE_CAP = 1 << 17


def _deletes(word: str, max_edit: int, out: set[str]) -> set[str]:
    """All delete variants up to ``max_edit`` — INCLUDING the empty string
    (unlike symspellpy, which stops at length 1 and therefore misses
    substitution-only pairs of very short words like 'aa'→'bb' at
    distance 2; our spec is complete within the edit radius, verified by
    a brute-force property test)."""
    frontier = {word}
    for _ in range(max_edit):
        nxt = set()
        for w in frontier:
            if not w:
                continue
            for i in range(len(w)):
                d = w[:i] + w[i + 1 :]
                if d not in out:
                    out.add(d)
                    nxt.add(d)
        frontier = nxt
    return out


class SymSpellIndex:
    """Immutable deletion-variant index over a ``token -> count`` lexicon."""

    __slots__ = (
        "words",
        "index",
        "max_edit",
        "prefix_len",
        "top50_sum",
        "_cand_cache",
    )

    def __init__(
        self,
        lexicon: dict[str, int],
        max_edit: int = DEFAULT_MAX_EDIT,
        prefix_len: int = DEFAULT_PREFIX_LEN,
    ):
        import heapq

        self.words: dict[str, int] = dict(lexicon)
        self.max_edit = max_edit
        self.prefix_len = prefix_len
        # Per-process memo for full candidate enumerations (k=None):
        # bigram reranking keys its suggestion memo by (prev, word), so
        # without this the PURE per-word candidate walk re-runs once per
        # distinct context — the dominant kernel cost after r5's
        # faithful transfer_casing.  Ships empty inside the broadcast;
        # each worker fills its own copy.  Results are identical with or
        # without the cache (lookup_candidates is pure in (index, word)).
        self._cand_cache: dict[str, tuple] = {}
        # A10 calibration constant, computed once at index-build time (it
        # ships inside the broadcast) instead of re-sorting the whole
        # lexicon per conversation in the kernel (ADVICE r2).  The sum of
        # the 50 largest counts is tie-break-independent.
        self.top50_sum: int = sum(heapq.nlargest(50, self.words.values()))
        index: dict[str, list[str]] = defaultdict(list)
        for w in self.words:
            p = w[:prefix_len]
            index[p].append(w)
            for d in _deletes(p, max_edit, set()):
                index[d].append(w)
        # Deterministic candidate ordering regardless of dict-build order.
        self.index = {k: tuple(sorted(v)) for k, v in index.items()}

    def __getstate__(self):
        # The memo must NOT travel with the pickle: a driver-side warm-up
        # (overlay building, tests) would otherwise serialize the full
        # candidate cache into every executor's broadcast copy, inflating
        # broadcast size for entries the workers rebuild anyway
        # (ADVICE r5).  Workers always start from an empty memo.
        # __slots__ class: state is a plain dict keyed by slot name.
        return {
            s: ({} if s == "_cand_cache" else getattr(self, s))
            for s in self.__slots__
        }

    def __setstate__(self, state):
        for s, v in state.items():
            setattr(self, s, v)
        self._cand_cache = {}

    @classmethod
    def from_pairs(cls, pairs, **kw) -> "SymSpellIndex":
        return cls({t: int(c) for t, c in pairs}, **kw)

    def lookup_top(self, word: str) -> str | None:
        """TOP-verbosity lookup on the *lowercased* word; returns the best
        dictionary term or None when nothing is within ``max_edit``."""
        w = word.lower()
        max_edit = self.max_edit
        if w in self.words:
            return w
        seen: set[str] = set()
        best: tuple[int, int, str] | None = None
        prefix = w[: self.prefix_len]
        probes = {prefix}
        _deletes(prefix, max_edit, probes)
        for probe in probes:
            for cand in self.index.get(probe, ()):
                if cand in seen:
                    continue
                seen.add(cand)
                if abs(len(cand) - len(w)) > max_edit:
                    continue
                d = osa_distance(w, cand, max_edit)
                if d > max_edit:
                    continue
                key = (d, -self.words[cand], cand)
                if best is None or key < best:
                    best = key
        return best[2] if best else None


@lru_cache(maxsize=1 << 16)
def transfer_casing(original: str, suggestion: str) -> str:
    """Char-level casing transfer — the faithful semantics of
    symspellpy's ``transfer_casing_for_similar_text`` (helpers.py; the
    reference drives lookups with ``transfer_casing=True``,
    memoocr/correct_ocr.py:352).  Align ``lower(original)`` against the
    suggestion with sequence-matcher opcodes and copy casing per block:

    * ``equal``  — emit the ORIGINAL slice (identical letters, so this
      preserves interior mixed case: 'HuS'→'HuS', 'McDonald' stays);
    * ``delete`` — original-only characters vanish;
    * ``insert`` — suggestion-only characters take the case of the
      preceding original character (or the following one at the start
      or after a space);
    * ``replace`` — positional per-character transfer; when the
      suggestion segment is longer, the LAST seen case carries over the
      overhang ('HUS'→'hund' gives 'HUND', the trailing insertion
      inheriting upper).

    Deterministic: difflib's block selection is itself deterministic for
    fixed inputs, and the single-node spec oracle shares this exact
    function, so the byte-equality contract is unchanged in kind."""
    if not suggestion:
        return suggestion
    out: list[str] = []
    for tag, i1, i2, j1, j2 in SequenceMatcher(
        None, original.lower(), suggestion
    ).get_opcodes():
        if tag == "equal":
            out.append(original[i1:i2])
        elif tag == "insert":
            anchor = i1 if i1 == 0 or original[i1 - 1] == " " else i1 - 1
            if anchor < len(original) and original[anchor].isupper():
                out.append(suggestion[j1:j2].upper())
            else:
                out.append(suggestion[j1:j2].lower())
        elif tag == "replace":
            seg_o, seg_s = original[i1:i2], suggestion[j1:j2]
            upper = False
            for k, ch in enumerate(seg_s):
                if k < len(seg_o):
                    upper = seg_o[k].isupper()
                out.append(ch.upper() if upper else ch.lower())
    return "".join(out)


def get_word_suggestion(
    word: str,
    index: SymSpellIndex,
    memo: dict | None = None,
    bigram_counts: dict[tuple[str, str], int] | None = None,
    prev_token: str | None = None,
    overlay: tuple | None = None,
) -> str | None:
    """Per-token correction decision (memoocr/correct_ocr.py:347-375).

    Noise tokens → None (caller passes the original through); informative
    punctuation → kept; otherwise SymSpell TOP lookup with casing transfer,
    false-positive cancellation and a PAGEBREAK guard.

    With ``bigram_counts``, the TOP pick is replaced by bigram-context
    reranking over the full candidate set (``bigram_rerank``): same
    guards, context-dependent winner.  The memo key then includes the
    previous token (suggestions are context-dependent in this mode).
    With ``overlay`` ((delta_index, delta_counts), per-conv augmented
    dictionary), the TOP pick consults the overlaid dictionary — the
    caller must scope the memo to the conversation in this mode.
    """
    if word in NOISE_TOKENS:
        return None
    if word in KEEP_PUNCT:
        return word
    key = word if bigram_counts is None else (prev_token, word)
    if memo is not None and key in memo:
        return memo[key]
    if overlay is not None:
        top = overlay_lookup_top(word, index, overlay[0], overlay[1])
    elif bigram_counts is None:
        top = index.lookup_top(word)
    elif word.lower() in index.words:
        # exact dictionary words are never reranked away (ADVICE r2):
        # plain lookup_top short-circuits d=0, and context must not
        # rewrite already-valid tokens ('hus' after 'gammel' stays 'hus'
        # even when the ('gammel','hud') bigram is frequent)
        top = word.lower()
    else:
        # k=None: the documented contract is reranking over the FULL
        # candidate set — a top-5 prune would hide exactly the crowded
        # cases where a context-supported candidate sorts low (ADVICE
        # r3); lookup_candidates enumerates all candidates anyway, so
        # the prune saved nothing
        top = bigram_rerank(
            prev_token,
            lookup_candidates(index, word, k=None),
            bigram_counts,
        )
    if top is not None:
        suggestion = transfer_casing(word, top)
        if (word, suggestion) in FALSE_POSITIVE_PAIRS:
            suggestion = word
        if PAGEBREAK in word:
            suggestion = word
    else:
        suggestion = word
    if memo is not None:
        memo[key] = suggestion
    return suggestion


def word_correct_text(
    text: str,
    index: SymSpellIndex,
    memo: dict | None = None,
    bigram_counts: dict[tuple[str, str], int] | None = None,
    overlay: tuple | None = None,
) -> str:
    """SymSpell word-level correction of a multi-line text
    (memoocr/correct_ocr.py:335-344).

    Tokens of length ≤ 1 pass through; output normalizes intra-line
    whitespace to single spaces (that *is* the spec).  With
    ``bigram_counts`` each lookup is reranked by the bigram context of
    the PREVIOUS CORRECTED token (lowered), reset at line starts —
    deterministic left-to-right decoding."""
    out_lines = []
    for line in text.splitlines():
        tokens = tokenize(line)
        corrected = []
        prev: str | None = None
        for t in tokens:
            if len(t) <= 1:
                corrected.append(t)
                prev = t.lower()
                continue
            s = get_word_suggestion(
                t, index, memo, bigram_counts, prev, overlay
            )
            out = s if s else t
            corrected.append(out)
            prev = out.lower()
        out_lines.append(" ".join(corrected))
    return "\n".join(out_lines)


def lookup_candidates(
    index: SymSpellIndex, word: str, k: int | None = 5
) -> list[tuple[int, int, str]]:
    """Dictionary candidates within ``max_edit`` of the lowercased word,
    as (distance, -count, term) sorted ascending (so [0] is the
    TOP-verbosity winner) — the candidate set bigram reranking and
    overlay lookup score.  ``k=None`` returns all.

    Full enumerations (k=None) are memoized on the index (pure in
    (index, word); the index is immutable after build); the memo is
    emptied when it reaches ``CAND_CACHE_CAP`` entries, so a pathological
    vocabulary cannot grow worker memory unboundedly."""
    w = word.lower()
    cache = getattr(index, "_cand_cache", None)
    if k is None and cache is not None:
        hit = cache.get(w)
        if hit is not None:
            return list(hit)
    out: list[tuple[int, int, str]] = []
    if w in index.words:
        out.append((0, -index.words[w], w))
    seen: set[str] = {w} if w in index.words else set()
    prefix = w[: index.prefix_len]
    probes = {prefix}
    _deletes(prefix, index.max_edit, probes)
    for probe in probes:
        for cand in index.index.get(probe, ()):
            if cand in seen:
                continue
            seen.add(cand)
            if abs(len(cand) - len(w)) > index.max_edit:
                continue
            d = osa_distance(w, cand, index.max_edit)
            if d > index.max_edit or d == 0:
                continue
            out.append((d, -index.words[cand], cand))
    out.sort()
    if k is None:
        if cache is not None:
            if len(cache) >= CAND_CACHE_CAP:
                cache.clear()
            cache[w] = tuple(out)
        return out
    return out[:k]


# ---------------------------------------------------------------------------
# A10/J6 — per-conversation dictionary augmentation during correction
# (correct_ocr.py:210-229: production config rebuilds the SymSpell dict
# per novel via make_novel_augmented_dictionary before word-correcting it)
# ---------------------------------------------------------------------------


def conv_freqlist(texts: list[str]) -> list[tuple[str, int]]:
    """make_freqlist (correct_ocr.py:259-266) over one conversation's
    turn texts: pagebreak-stripped, lowercased, tokenized, punctuation
    dropped, sorted (count desc, token asc) — the same spec as the A1
    distributed freqlist, in kernel-local form."""
    from collections import Counter

    from memo_fraktur_ocr_code_spark.functions.textspec import (
        FREQCOUNT_DROP as _DROP,
    )

    counts: Counter = Counter()
    for t in texts:
        s = t.replace(PAGEBREAK, "").lower()
        counts.update(
            tok for tok in tokenize(s) if tok not in _DROP
        )
    return sorted(counts.items(), key=lambda x: (-x[1], x[0]))


def build_conv_delta(
    base_words: dict[str, int],
    conv_freqs: list[tuple[str, int]],
    lower: int = 2,
    upper: int = 250,
    base_top50: int | None = None,
) -> tuple["SymSpellIndex", dict[str, int]]:
    """Per-conversation augmentation delta (make_novel_augmented_
    dictionary, correct_ocr.py:269-286): scale the conversation's own
    token counts by the ratio of top-50 sums, clamp on the RAW count,
    overlay last-wins.

    Returns a small deletion index over ONLY the delta tokens plus the
    resolved counts — the base index stays immutable/shared, so the
    per-conv cost is O(conv vocabulary), never a 50k-word index rebuild
    (the Spark-side answer to the reference reloading the whole
    dictionary per novel).

    ``base_top50`` is conversation-invariant — pass
    ``SymSpellIndex.top50_sum`` from the hot path so the base lexicon is
    never re-scanned per conversation (ADVICE r2); when omitted it is
    derived here (heapq, no full sort)."""
    import heapq as _heapq
    import math as _math

    if base_top50 is None:
        base_top50 = sum(_heapq.nlargest(50, base_words.values()))
    conv_top50 = sum(c for _t, c in conv_freqs[:50])
    if conv_top50 == 0:
        return SymSpellIndex({}), {}
    ratio = base_top50 / conv_top50
    delta_counts = {
        t: _math.ceil(c * ratio)
        for t, c in conv_freqs
        if lower <= c <= upper
    }
    return SymSpellIndex(delta_counts), delta_counts


def overlay_lookup_top(
    word: str,
    base: SymSpellIndex,
    delta_index: SymSpellIndex,
    delta_counts: dict[str, int],
) -> str | None:
    """TOP lookup against (base dictionary overlaid with delta, last
    wins) WITHOUT materializing the merged index: candidates from both
    indexes, counts resolved delta-first — identical winner to a lookup
    against the written-out augmented dictionary file."""
    w = word.lower()
    # d=0 short-circuit (same as SymSpellIndex.lookup_top): only the word
    # itself can sit at distance 0, and distance dominates the TOP order —
    # this is the hot path, since every conv token with freq≥lower is in
    # the delta by construction
    if w in delta_counts or w in base.words:
        return w
    merged: dict[str, int] = {}
    for d, _negc, term in lookup_candidates(base, word, k=None):
        merged[term] = d
    for d, _negc, term in lookup_candidates(delta_index, word, k=None):
        if term not in merged or d < merged[term]:
            merged[term] = d
    if not merged:
        return None
    best = None
    for term, d in merged.items():
        cnt = delta_counts.get(term, base.words.get(term, 0))
        key = (d, -cnt, term)
        if best is None or key < best:
            best = key
    return best[2]


def bigram_rerank(
    prev_token: str | None,
    candidates: list[tuple[int, int, str]],
    bigram_counts: dict[tuple[str, str], int],
) -> str | None:
    """Context-aware candidate selection: among the edit-distance
    candidates, prefer the one the (prev_token, candidate) bigram supports
    most, breaking ties by the TOP order (distance, count desc, term).

    This is the bigram-context scoring stage of the correction pipeline's
    candidate reranking; with no context (or no bigram hits) it reduces
    exactly to the TOP lookup, so the default pipeline's byte-equality
    contract is unaffected unless reranking is explicitly enabled."""
    if not candidates:
        return None
    if prev_token is None:
        return candidates[0][2]
    p = prev_token.lower()
    best = None
    for rank, (d, negc, term) in enumerate(candidates):
        hits = bigram_counts.get((p, term), 0)
        key = (-hits, rank)
        if best is None or key < best[0]:
            best = (key, term)
    return best[1]


# ---------------------------------------------------------------------------
# J8 — compound lookup (alternative line-level path, correct_ocr.py:308-332)
# ---------------------------------------------------------------------------

def lookup_compound(term: str, index: SymSpellIndex) -> str:
    """Compound-aware correction of a whitespace-separated phrase.

    Deterministic re-spec of SymSpell ``lookup_compound`` as used at
    correct_ocr.py:308-314: per word, keep dictionary words, else try a
    TOP lookup, else try a binary split into two dictionary words (space
    re-inserted), else keep the word.  The reference flags this path as
    brittle and ships it disabled; we keep it surface-complete.
    """
    return " ".join(o for _, o in lookup_compound_tokens(term, index))


def lookup_compound_tokens(
    term: str, index: SymSpellIndex
) -> list[tuple[str, str]]:
    """Per-input-word compound correction: ``[(input_word, output)]``
    where output is the corrected word or, for a binary split, two
    dictionary words joined by a space.  The pairing is the point —
    a split changes the output's word COUNT, and any consumer that
    re-tokenizes the joined output and zips it against the input
    desynchronizes after the split (ADVICE r3); this keeps the 1:1
    input-word mapping explicit."""
    out: list[tuple[str, str]] = []
    for word in term.split():
        w = word.lower()
        if len(word) <= 1 or w in index.words:
            out.append((word, word))
            continue
        top = index.lookup_top(word)
        top_d = (
            osa_distance(w, top, index.max_edit)
            if top is not None
            else index.max_edit + 1
        )
        if top is not None and top_d <= 1:
            out.append((word, transfer_casing(word, top)))
            continue
        # prefer an exact two-word segmentation over a far-edit suggestion
        best_split = None
        for i in range(1, len(w)):
            a, b = w[:i], w[i:]
            if a in index.words and b in index.words:
                score = index.words[a] + index.words[b]
                if best_split is None or score > best_split[0]:
                    best_split = (score, f"{a} {b}")
        if best_split is not None:
            out.append((word, best_split[1]))
        elif top is not None and top_d <= index.max_edit:
            out.append((word, transfer_casing(word, top)))
        else:
            out.append((word, word))
    return out


def line_correct_text(text: str, index: SymSpellIndex) -> str:
    """Line-level compound correction with punctuation splice-back
    (correct_ocr.py:316-332 ``spell_corrected`` + :378-383).  The
    reference's index-error-prone splice is re-specified safely: the
    splice walks ``lookup_compound_tokens``'s explicit per-input-word
    pairs, so a binary split (one word → two) substitutes its own word
    and cannot desynchronize later replacements — the previous global
    zip of re-tokenized output silently corrupted every word after a
    split (ADVICE r3).  Punctuation and spacing of the original line
    are preserved."""
    import re as _re

    word_split = _re.compile(r"[^\W\d_]+|[\w]+", _re.U)
    out_lines = []
    for line in text.splitlines():
        new_line = line
        for orig_word, repl in lookup_compound_tokens(line, index):
            if orig_word == repl:
                continue
            oc = word_split.findall(orig_word)
            rc = word_split.findall(repl)
            if len(oc) == len(rc):
                # core-for-core (the common single-word correction)
                for orig_w, new_w in zip(oc, rc):
                    if len(orig_w) > 1 and orig_w != new_w:
                        new_line = _re.sub(
                            rf"\b{_re.escape(orig_w)}\b",
                            new_w,
                            new_line,
                            count=1,
                        )
            else:
                # word count changed (binary split): replace the whole
                # original word once, anchored so the match cannot land
                # inside an earlier longer token on the line (a literal
                # ``str.replace`` would splice 'ordet'→'or det' into the
                # middle of 'Nordet' — ADVICE r3).  Lookarounds rather
                # than \b so words edged by punctuation still match;
                # backslashes in the replacement are literalized.
                new_line, n_sub = _re.subn(
                    rf"(?<!\w){_re.escape(orig_word)}(?!\w)",
                    repl.replace("\\", "\\\\"),
                    new_line,
                    count=1,
                )
                if n_sub == 0:
                    # token abuts word chars on both sides (can only
                    # happen if tokenization and the line disagree) —
                    # fall back to the literal first-occurrence splice
                    # rather than dropping the correction
                    new_line = new_line.replace(orig_word, repl, 1)
        out_lines.append(new_line)
    return "\n".join(out_lines)
