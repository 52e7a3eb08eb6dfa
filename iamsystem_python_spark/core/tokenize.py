"""Tokenization + normalization kernels.

Parity target: /root/reference/src/iamsystem/tokenization/tokenize.py:23-131
and normalize.py:10-18. ``Tokenizer.tokenize`` runs once per row inside an
Arrow batch, so its per-token work is kept small: regex spans come straight
from the compiled pattern, ASCII labels skip NFKD, and ``Token`` is a
``__slots__`` class.

Normalization: the reference uses ``anyascii`` (normalize.py:14-18) with a
``μ→u`` special case. anyascii is not available in this environment, so we
fold accents with NFKD-strip, which is equivalent on the Latin-script fixtures
the reference tests use (é→e, è→e, à→a, ç→c, μ→u via the same special case).
"""

from __future__ import annotations

import re
import unicodedata
from typing import Callable, Iterable, List, NamedTuple, Optional, Sequence, Tuple

# ---------------------------------------------------------------------------
# Token model — reference: tokenization/token.py:7-52
# start/end are end-exclusive character offsets; i is the token index.
# ---------------------------------------------------------------------------


class Token:
    """Value object with dataclass semantics (equality and hash on the
    field tuple). A ``__slots__`` class because ``tokenize`` builds one per
    token: its ``__init__`` is ~3.5x cheaper than a frozen dataclass's."""

    __slots__ = ("start", "end", "label", "norm_label", "i")

    def __init__(self, start: int, end: int, label: str, norm_label: str, i: int):
        self.start = start
        self.end = end
        self.label = label
        self.norm_label = norm_label
        self.i = i

    def as_tuple(self) -> Tuple[int, int, str, str, int]:
        return (self.start, self.end, self.label, self.norm_label, self.i)

    def __eq__(self, other) -> bool:
        if other.__class__ is not self.__class__:
            return NotImplemented
        return self.as_tuple() == other.as_tuple()

    def __hash__(self) -> int:
        return hash(self.as_tuple())

    def __reduce__(self):
        # without it, a __slots__ class cannot be pickled with protocols 0-1
        return (self.__class__, self.as_tuple())

    def __repr__(self) -> str:
        return (
            f"Token(start={self.start!r}, end={self.end!r}, label={self.label!r}, "
            f"norm_label={self.norm_label!r}, i={self.i!r})"
        )


# ---------------------------------------------------------------------------
# Normalizers — reference: tokenization/normalize.py:10-18
# ---------------------------------------------------------------------------

_MU = "μ"


def lower_no_accents(s: str) -> str:
    """Lowercase + accent fold (reference normalize.py:10-13)."""
    if s.isascii():
        # NFKD is the identity on ASCII, and ASCII has no combining marks
        return s.lower()
    s = s.replace(_MU, "u")
    nfkd = unicodedata.normalize("NFKD", s)
    return "".join(c for c in nfkd if not unicodedata.combining(c)).lower()


def lower_only(s: str) -> str:
    return s.lower()


# ---------------------------------------------------------------------------
# Split functions — reference: tokenize.py:23-44
# ---------------------------------------------------------------------------

class Offsets(NamedTuple):
    """A (start, end) character span (reference tokenization/token.py
    Offsets / api.py IOffsets). NamedTuple: supports both attribute access
    (reference API — ``off.start``/``off.end``) and tuple unpacking (the
    batch kernels)."""

    start: int
    end: int


splitFun = Callable[[str], Iterable[Offsets]]


def split_find_iter_closure(pattern: str) -> splitFun:
    """Regex split of text into Offsets (tokenize.py:23-41)."""
    r = re.compile(pattern)

    def split(text: str) -> Iterable[Offsets]:
        return (Offsets(m.start(), m.end()) for m in r.finditer(text))

    split.pattern_re = r  # exposed for group-free findall fast paths
    return split


split_alpha_num = split_find_iter_closure(r"\w+")


# ---------------------------------------------------------------------------
# Tokenizer — reference: tokenize.py:47-81 (TokenizerImp)
# ---------------------------------------------------------------------------


class Tokenizer:
    """Split + per-token normalize → Token(start, end, label, norm_label, i).

    ``order_tokens=True`` reproduces tokenize_and_order_decorator
    (tokenize.py:117-131): tokens sorted alphabetically by label for
    order-insensitive matching; offsets keep their original values, ``i``
    keeps the document position (re-sorted later by create_annot).
    """

    def __init__(
        self,
        split: splitFun = split_alpha_num,
        normalize: Callable[[str], str] = lower_no_accents,
        order_tokens: bool = False,
    ):
        self.split = split
        self.normalize = normalize
        self.order_tokens = order_tokens

    def _spans(self, text: str) -> Iterable[Tuple[int, int]]:
        """(start, end) of each token: straight from the compiled regex of a
        ``split_find_iter_closure`` split (no Offsets per token), else from
        a user-supplied split."""
        r = getattr(self.split, "pattern_re", None)
        if r is None:
            return self.split(text)
        return (m.span() for m in r.finditer(text))

    def tokenize(self, text: str) -> List[Token]:
        normalize = self.normalize
        tokens = [
            Token(start, end, (label := text[start:end]), normalize(label), i)
            for i, (start, end) in enumerate(self._spans(text))
        ]
        if self.order_tokens:
            # reference sorts by *label* (tokenize.py:128-129)
            tokens = sorted(tokens, key=lambda t: t.label)
        return tokens

    def norm_labels_iter(self, text: str):
        """Exact norm labels without Token construction: same boundaries
        and per-token normalize as ``tokenize`` (unlike ``norm_tokens_fast``,
        which normalizes the whole text first and can shift \\w boundaries
        on NFKD compatibility chars). Lazy — callers can early-exit."""
        normalize = self.normalize
        return (normalize(text[s:e]) for s, e in self._spans(text))

    def norm_tokens_fast(self, text: Optional[str]) -> List[str]:
        """Fast path for signature stages that only need normalized token
        strings (no offsets, no Token objects): normalize the whole text
        once, then split. Exactly equivalent to
        [t.norm_label for t in tokenize(text)] for case-folding normalizers
        (lower / lower_no_accents over \\w-style patterns), which is all the
        dedup pipeline uses."""
        if text is None:
            return []
        normed = self.normalize(text)
        r = getattr(self.split, "pattern_re", None)
        if r is not None and r.groups == 0:
            # C-speed: findall returns the matched strings directly instead
            # of Python-level slicing per (start, end) span (≈2-3× faster;
            # identical output for group-free patterns)
            return r.findall(normed)
        return [normed[s:e] for s, e in self.split(normed)]


class OrderedTokenizerWrapper:
    """tokenize_and_order_decorator (reference tokenize.py:117-131) for
    tokenizers without the split/normalize seam (e.g. the spaCy adapter):
    sorts any tokenizer's output alphabetically by label, keeping offsets
    and document ``i`` (re-sorted later by create_annot)."""

    def __init__(self, inner):
        self.inner = inner

    def tokenize(self, text):
        return sorted(self.inner.tokenize(text), key=lambda t: t.label)


def french_tokenizer(order_tokens: bool = False) -> Tokenizer:
    """lower + unaccent (tokenize.py:94-103)."""
    return Tokenizer(split_alpha_num, lower_no_accents, order_tokens)


def english_tokenizer(order_tokens: bool = False) -> Tokenizer:
    """lower only (tokenize.py:106-111)."""
    return Tokenizer(split_alpha_num, lower_only, order_tokens)


_CODE_SPLIT = split_find_iter_closure(r"[A-Za-z_][A-Za-z_0-9]*|\d+|[^\sA-Za-z_0-9]")


def code_tokenizer() -> Tokenizer:
    """Source-code tokenizer for the dedup pipeline: identifiers, numbers and
    single punctuation marks each become one token; lowercased norm. No
    reference counterpart (the dedup pipeline is engine-side, SURVEY.md §2-C).
    """
    return Tokenizer(_CODE_SPLIT, lower_only)


def remove_stopwords(tokens: Sequence[Token], is_stop: Callable[[Token], bool]) -> List[Token]:
    """tokenize.py:84-91."""
    return [t for t in tokens if not is_stop(t)]


# ---------------------------------------------------------------------------
# Offset / span utilities — reference: tokenization/util.py
# ---------------------------------------------------------------------------


def offsets_overlap(a_start: int, a_end: int, b_start: int, b_end: int) -> bool:
    """Interval intersection test (util.py:14-18)."""
    return (b_start <= a_start <= b_end) or (a_start <= b_start <= a_end)


def get_span_seq_id(tokens: Sequence[Token]) -> str:
    """Unique id for a sequence of offsets (util.py:34-40)."""
    return ";".join(f"({t.start},{t.end})" for t in tokens)


def concat_norm_labels(tokens: Sequence[Token]) -> str:
    return " ".join(t.norm_label for t in tokens)


def concat_labels(tokens: Sequence[Token]) -> str:
    return " ".join(t.label for t in tokens)


# reference names (tokenization/util.py:21-31)
concat_tokens_norm_label = concat_norm_labels
concat_tokens_label = concat_labels


def multiple_seq_to_offsets(sequences: List[List[Token]]) -> List["Offsets"]:
    """One Offsets per continuous sequence: first token start, last token
    end (reference util.py:43-52)."""
    return [Offsets(seq[0].start, seq[-1].end) for seq in sequences if seq]


def group_continuous_seq(tokens: List[Token]) -> List[List[Token]]:
    """Gaps-and-islands over token index i (util.py:97-114)."""
    if not tokens:
        return []
    tokens = sorted(tokens, key=lambda t: t.i)
    seqs: List[List[Token]] = [[tokens[0]]]
    for tok in tokens[1:]:
        if seqs[-1][-1].i + 1 == tok.i:
            seqs[-1].append(tok)
        else:
            seqs.append([tok])
    return seqs


def remove_trailing_stopwords(
    sequences: List[List[Token]], stop_i: Sequence[int]
) -> List[List[Token]]:
    """Trim stopword-only tails of each continuous run (util.py:117-134)."""
    stop = set(stop_i)
    out: List[List[Token]] = []
    for seq in sequences:
        while seq and seq[-1].i in stop:
            seq = seq[:-1]
        if seq:
            out.append(seq)
    return out


def replace_offsets_by_new_str(
    text: str, offsets_new_str: Iterable[Tuple[object, str]]
) -> str:
    """Splice replacement strings into text; skip overlapped (util.py:55-75).
    Accepts (offsets, str) pairs where offsets is a (start, end) tuple OR
    any object with .start/.end (Token, Offsets, Annotation) — the
    reference API passes tokens directly (test_toknorm.py:80-98)."""
    parts: List[str] = []
    i = 0
    for off, new_str in offsets_new_str:
        start, end = (off.start, off.end) if hasattr(off, "start") else off
        if start < i:
            continue
        parts.append(text[i:start] + new_str)
        i = end
    parts.append(text[i:])
    return "".join(parts)


# ---------------------------------------------------------------------------
# Reference import-surface compatibility (tokenization side).
# ---------------------------------------------------------------------------


#: Reference class name for the concrete tokenizer
#: (tokenization/tokenize.py TokenizerImp).
TokenizerImp = Tokenizer


def tokenize_and_order_decorator(tokenizer):
    """Wrap any tokenizer so its output is sorted alphabetically by label
    (reference tokenization/tokenize.py:117-131). For the core
    :class:`Tokenizer` prefer ``order_tokens=True``; this generic wrapper
    also covers adapters without the split/normalize seam."""
    return OrderedTokenizerWrapper(tokenizer)
