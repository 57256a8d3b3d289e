"""Candidate reranking — the stage between retrieval and payload assembly.

The reference serves payloads straight from vector top-k
(ChatService.GetChatCompletionAsync builds the RAG payload from the raw
$search results); production retrieval stacks insert a (cross-encoder)
rerank over the fused candidates first. Same architecture discipline as
the other external model sources (functions/embedder.py RemoteEmbedder,
functions/completion.py): the TRANSPORT is injectable — a deterministic
local scorer keeps every test and harness run hermetic, the remote
transport is the documented production hook and raises NotImplementedError
in this container (no network).

Scale shape: candidates are already top-n (tens of rows per query), so
scoring, ranking, fusion and the top-k cut are ONE Python function
(`rank_candidates`) applied in one `coalesce(1).mapInArrow` pass: one task
holds every candidate, and the plan carries no window, sort or aggregate.
Cost per query is n scorer calls, independent of corpus size; the
corpus-scale work happened in the retrieval legs.
"""

from __future__ import annotations

import math
from typing import Callable, Sequence

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, StructField, StructType


def lexical_overlap_scorer(query: str) -> Callable[[pd.Series], pd.Series]:
    """Deterministic local stand-in for a cross-encoder: token-set Jaccard
    between the query and each candidate text. Hermetic, order-free, and
    monotone in shared vocabulary — enough structure to test the plumbing
    and to be a sane lexical fallback."""
    q = set(query.lower().split())

    def score(texts: pd.Series) -> pd.Series:
        def one(t: str | None) -> float:
            toks = set((t or "").lower().split())
            if not toks or not q:
                return 0.0
            return len(q & toks) / len(q | toks)

        return texts.map(one)

    return score


def remote_cross_encoder(query: str) -> Callable[[pd.Series], pd.Series]:
    """Production transport hook (cross-encoder scoring API). No network in
    this environment — inject your client here; the signature is the
    contract the rerank UDF calls."""

    def score(texts: pd.Series) -> pd.Series:  # pragma: no cover - env-gated
        raise NotImplementedError(
            "remote cross-encoder transport not available in this environment; "
            "inject a scorer via rerank(..., scorer=...)"
        )

    return score


def _desc(x) -> tuple:
    """Sort key of Spark's DESC NULLS LAST on a double: NaN above every
    number, NULL after everything."""
    if x is None:
        return (2, 0.0)
    return (0, 0.0) if x != x else (1, -x)


def _asc(x) -> tuple:
    """Sort key of Spark's ASC NULLS FIRST on an id (-0.0 equals 0.0)."""
    return (0,) if x is None else (1, x)


def _order(keys: list, ids: list) -> list[int]:
    """Row indices by (key desc, id asc), as Spark orders them."""
    return sorted(range(len(ids)), key=lambda i: (_desc(keys[i]), _asc(ids[i])))


def rank_positions(keys: list, ids: list) -> list[int]:
    """1-based rank of each row by (key desc, id asc): row_number over
    that order."""
    ranks = [0] * len(ids)
    for r, i in enumerate(_order(keys, ids), 1):
        ranks[i] = r
    return ranks


def rank_candidates(
    ids: list,
    texts: list,
    scorer: Callable[[pd.Series], pd.Series],
    k: int,
    ret_ranks: "list | None" = None,
    rrf_k: int = 60,
) -> "tuple[list[int], list, list | None]":
    """The rerank decision over one candidate set, shared by `rerank` and
    `vector_search_payload_reranked`: (top-k row indices in rank order,
    scorer scores, fused scores or None).

    The scorer sees every text at once. A NaN or None score is NULL (the
    Arrow conversion of a pandas UDF result makes it NULL), so it ranks
    last. Without `ret_ranks` the top k are by (score desc, id asc). With
    them the scorer's rank by the same order is RRF-fused,
    1/(rrf_k + r_ret) + 1/(rrf_k + r_scr), and the top k are by (fused
    desc, id asc); a NULL retrieval rank gives a NULL fused score."""
    raw = scorer(pd.Series(texts, dtype="object")).astype("float64").tolist()
    if len(raw) != len(ids):
        raise ValueError(f"scorer returned {len(raw)} scores for {len(ids)} texts")
    scores = [None if math.isnan(x) else x for x in raw]
    if ret_ranks is None:
        return _order(scores, ids)[:k], scores, None
    fused = [
        None if r is None else 1.0 / (rrf_k + r) + 1.0 / (rrf_k + s)
        for r, s in zip(ret_ranks, rank_positions(scores, ids))
    ]
    return _order(fused, ids)[:k], scores, fused


def serving_order(top: list[int], keys: list, ids: list, docs: list) -> list[int]:
    """The payload order of the kept rows: ascending (-key, id, doc), each
    NULL first, as the Spark payload aggregate sorted its collected
    structs. It is the top-k order, except that NULL keys lead and a
    (key, id) tie breaks on the document."""
    def neg(x):
        return None if x is None else -x

    return sorted(top, key=lambda i: (_asc(neg(keys[i])), _asc(ids[i]), _asc(docs[i])))


def rerank(
    candidates: DataFrame,
    query: str,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    scorer_factory: Callable[[str], Callable[[pd.Series], pd.Series]] = lexical_overlap_scorer,
    keep_cols: Sequence[str] = (),
    rank_col: str | None = None,
    rrf_k: int = 60,
) -> DataFrame:
    """Score every candidate against `query` and keep the top-k, in one
    Arrow pass over the candidate frame (`rank_candidates`). Candidates
    should already be a top-n frame (tens of rows) from the retrieval
    legs: they are coalesced into one task, and the rerank cost is
    per-candidate, never per-corpus-row. Output rows come in rank order.

    Ordering policy:
      * rank_col=None — REPLACE: order purely by (rerank_score desc, id
        asc). Correct when the scorer is strictly stronger than the
        retriever (a real cross-encoder).
      * rank_col='<retrieval rank>' — FUSE: the scorer's rank order is
        RRF-fused with the retrieval order (1/(rrf_k+r_ret) +
        1/(rrf_k+r_scr), the same constant as hybrid fusion). A weak or
        merely-different scorer then refines the retrieval order instead
        of overwriting it — the engine's own EVAL.md showed the replace
        policy with the lexical fallback scorer serving a WORSE order
        than its retrieval input, which fusion prevents by construction
        (both parents vote). Output adds `fused` (the fusion score).
    """
    scorer = scorer_factory(query)
    out_cols = [id_col, *keep_cols]
    added = ["rerank_score"] + (["fused"] if rank_col is not None else [])
    schema = StructType(
        [candidates.schema[c] for c in out_cols]
        + [StructField(c, DoubleType()) for c in added]
    )
    in_cols = list(dict.fromkeys([*out_cols, text_col] + ([rank_col] if rank_col else [])))

    def ranked(batches):
        batches = list(batches)
        if not sum(b.num_rows for b in batches):
            return
        t = pa.Table.from_batches(batches)
        top, scores, fused = rank_candidates(
            t[id_col].to_pylist(),
            t[text_col].to_pylist(),
            scorer,
            k,
            t[rank_col].to_pylist() if rank_col is not None else None,
            rrf_k,
        )
        arrays = [t[c].take(pa.array(top, pa.int64())).combine_chunks() for c in out_cols]
        arrays.append(pa.array([scores[i] for i in top], pa.float64()))
        if fused is not None:
            arrays.append(pa.array([fused[i] for i in top], pa.float64()))
        yield pa.RecordBatch.from_arrays(arrays, names=out_cols + added)

    return candidates.select(*in_cols).coalesce(1).mapInArrow(ranked, schema)
