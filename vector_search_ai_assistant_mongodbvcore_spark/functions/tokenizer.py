"""Deterministic tokenizer kit: encode / count / decode.

The reference tokenizes with SharpToken (tiktoken's cl100k_base) to count and
trim prompt payloads (/root/reference/Search/Services/ChatService.cs:183-224).
The engine resolves its encoder in order:

  1. the tiktoken package, when importable (`cl100k_base`);
  2. a tiktoken-FORMAT vocab file named by $SPARK_GRAFT_TIKTOKEN_VOCAB,
     run through this module's own byte-pair-merge engine (`BpeEncoding`
     below) — point it at a real `cl100k_base.tiktoken` snapshot and the
     engine tokenizes EXACTLY like the reference with no extra package;
  3. a deterministic BPE-ish regex tokenizer with the same *interface*.

The trim operators only rely on the interface contract: encode ->
list[int], len(encode(x)) == count(x), decode(encode(x)) round-trips
whitespace-delimited text.

All UDFs are Arrow-batched (the reference's per-call C# loop is the slow
path this replaces).
"""

from __future__ import annotations

import base64
import os
import re
from typing import Iterator

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
)

# cl100k_base's public pre-tokenization split (tiktoken's published
# encoding definition; MIT). Possessive quantifiers + \p classes need the
# third-party `regex` module — load_tiktoken_vocab falls back loudly when
# it is absent and a \p-pattern is requested.
CL100K_SPLIT_PATTERN = (
    r"""'(?i:[sdmt]|ll|ve|re)|[^\r\n\p{L}\p{N}]?+\p{L}+|\p{N}{1,3}"""
    r"""| ?[^\s\p{L}\p{N}]++[\r\n]*|\s*[\r\n]|\s+(?!\S)|\s+"""
)


def _bpe_merge(ranks: "dict[bytes, int]", piece: bytes) -> "list[int]":
    """Standard byte-pair-merge (Sennrich BPE as tiktoken applies it):
    start from single bytes, repeatedly merge the adjacent pair with the
    LOWEST rank (leftmost on ties) until no adjacent concatenation is in
    the vocabulary.  Identical merge order to tiktoken's reference
    implementation, so a real cl100k vocab file reproduces cl100k ids."""
    if piece in ranks:
        return [ranks[piece]]
    parts = [piece[i : i + 1] for i in range(len(piece))]
    while len(parts) > 1:
        best_rank = None
        best_i = -1
        for i in range(len(parts) - 1):
            r = ranks.get(parts[i] + parts[i + 1])
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        parts[best_i : best_i + 2] = [parts[best_i] + parts[best_i + 1]]
    return [ranks[p] for p in parts]


class BpeEncoding:
    """tiktoken-compatible encoder over a mergeable-ranks vocabulary.

    `mergeable_ranks` maps token bytes -> id (the tiktoken file format's
    content); `pattern` is the pre-tokenization split regex.  encode()
    splits the text with the pattern and byte-pair-merges each piece;
    decode() concatenates token bytes and decodes UTF-8 with
    errors='replace' (tiktoken's convention — a mid-codepoint slice
    yields U+FFFD, never an exception)."""

    def __init__(
        self,
        mergeable_ranks: "dict[bytes, int]",
        pattern: str = CL100K_SPLIT_PATTERN,
        name: str = "custom-bpe",
    ):
        if not mergeable_ranks:
            raise ValueError("empty mergeable_ranks vocabulary")
        missing = [b for b in range(256) if bytes([b]) not in mergeable_ranks]
        if missing:
            raise ValueError(
                f"vocabulary lacks {len(missing)} single-byte tokens "
                f"(first missing: {missing[0]}); every byte must be "
                f"encodable or encode() can raise on arbitrary input"
            )
        self.name = name
        self._ranks = dict(mergeable_ranks)
        self._decoder = {rank: tok for tok, rank in self._ranks.items()}
        if r"\p" in pattern or "?+" in pattern or "++" in pattern:
            try:
                import regex as _re_mod
            except ImportError as e:  # pragma: no cover - regex ships here
                raise ImportError(
                    "this split pattern needs the 'regex' module "
                    "(unicode properties / possessive quantifiers); "
                    "install it or pass a plain-re pattern"
                ) from e
            self._split = _re_mod.compile(pattern)
        else:
            self._split = re.compile(pattern)

    def encode(self, text: str) -> "list[int]":
        out: list[int] = []
        for m in self._split.finditer(text or ""):
            out.extend(_bpe_merge(self._ranks, m.group().encode("utf-8")))
        return out

    def decode(self, ids) -> str:
        dec = self._decoder
        return b"".join(dec[int(i)] for i in ids).decode("utf-8", errors="replace")


def load_tiktoken_vocab(
    path: str,
    pattern: str = CL100K_SPLIT_PATTERN,
    name: "str | None" = None,
) -> BpeEncoding:
    """Load a tiktoken-format vocab file (`<base64 token> <rank>` per
    line — the published cl100k_base.tiktoken layout) into a BpeEncoding.
    Point $SPARK_GRAFT_TIKTOKEN_VOCAB at such a file and every tokenizer
    UDF runs real BPE over it."""
    ranks: dict[bytes, int] = {}
    with open(path, "rb") as f:
        for ln, line in enumerate(f, 1):
            line = line.strip()
            if not line:
                continue
            try:
                tok_b64, rank = line.split()
                ranks[base64.b64decode(tok_b64, validate=True)] = int(rank)
            except Exception as e:
                raise ValueError(
                    f"{path}:{ln}: not tiktoken vocab format "
                    f"('<base64> <rank>' per line): {line[:60]!r}"
                ) from e
    return BpeEncoding(ranks, pattern=pattern, name=name or os.path.basename(path))


def _load_encoder():
    try:  # pragma: no cover - tiktoken absent in this container
        import tiktoken

        return tiktoken.get_encoding("cl100k_base")
    except Exception:  # ImportError or download failure
        pass
    vocab_path = os.environ.get("SPARK_GRAFT_TIKTOKEN_VOCAB")
    if vocab_path:
        # the user explicitly asked for this vocabulary: a broken file
        # must raise, not silently fall back to the estimator and let
        # every downstream token count claim a precision it lacks
        return load_tiktoken_vocab(vocab_path)
    return None


_ENC = _load_encoder()

# BPE-ish word/punctuation splitter: words, numbers, punctuation runs,
# whitespace attached to the following word (like cl100k's " word" tokens).
_TOKEN_RE = re.compile(r"\s?[A-Za-z]+|\s?\d+|\s?[^\sA-Za-z\d]+|\s+")


def _encode_py(text: str) -> list[int]:
    if _ENC is not None:
        return _ENC.encode(text or "")
    if not text:
        return []
    # Deterministic id: 31-bit FNV-1a of the token string. decode() needs the
    # original strings, so ids are only used for counting/slicing; decode is
    # implemented by re-splitting (see _head_py / _tail_py).
    out = []
    for m in _TOKEN_RE.finditer(text):
        h = 2166136261
        for ch in m.group().encode("utf-8"):
            h = ((h ^ ch) * 16777619) & 0x7FFFFFFF
        out.append(h)
    return out


def _split_py(text: str) -> list[str]:
    return _TOKEN_RE.findall(text or "")


def _head_py(text: str, n: int) -> str:
    """decode(encode(text)[:n])."""
    if _ENC is not None:
        return _ENC.decode(_ENC.encode(text or "")[:n])
    return "".join(_split_py(text)[:n])


def _tail_py(text: str, n: int) -> str:
    """decode(encode(text)[-n:]); "" when n <= 0."""
    if n <= 0:
        return ""
    if _ENC is not None:
        return _ENC.decode(_ENC.encode(text or "")[-n:])
    return "".join(_split_py(text)[-n:])


@pandas_udf(ArrayType(IntegerType()))
def tokenize(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    for s in batches:
        yield s.map(lambda t: _encode_py(t if t is not None else ""))


@pandas_udf(IntegerType())
def count_tokens(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    for s in batches:
        yield s.map(lambda t: len(_encode_py(t if t is not None else "")))


@pandas_udf(StringType())
def detokenize_head(it: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
    """decode(encode(text)[:n]) — head-slice used for RAG payload trimming
    (ChatService.cs:214). Implemented by re-splitting so it works without
    tiktoken; with tiktoken it decodes real token ids."""
    for text, n in it:
        yield pd.Series([_head_py(t, int(k)) for t, k in zip(text, n)])


@pandas_udf(StringType())
def detokenize_tail(it: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
    """decode(encode(text)[-n:]) — tail-slice used for conversation trimming
    (ChatService.cs:218-221)."""
    for text, n in it:
        yield pd.Series([_tail_py(t, int(k)) for t, k in zip(text, n)])


def approx_token_count(col: Column | str) -> Column:
    """Pure-SQL token estimate (whitespace-delimited), exactly expressible in
    any ANSI engine — used where a DuckDB oracle must agree bit-for-bit."""
    c = F.col(col) if isinstance(col, str) else col
    trimmed = F.trim(c)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )
