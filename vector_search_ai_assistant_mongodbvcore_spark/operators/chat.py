"""The full chat turn: the reference's core serving path, composed from
engine operators.

Reference: ChatService.GetChatCompletionAsync
(/root/reference/Search/Services/ChatService.cs:119-165):

    1. embed prompt -> (vector, promptTokens)        (:128)  V6/S8/A6
    2. vector search -> joined doc payload           (:133)  V1/P1/P2/A1
    3. conversation history window                   (:136)  W1/W2/W3/A2
    4. BuildPrompts token-budget trim                (:141)  F5/F6
    5. chat completion                               (:145)  S9
    6. persist: 2 messages + token rollup, txn       (:152)  S3/S7/A3
    post-turn (first exchange only): summarize -> rename session
                                                     (:273-282, ChatPane.razor:255-264)  S10/A4/F1

This module is ORCHESTRATION, exactly like the reference's ChatService: each
step is a driver-side call whose heavy lifting (the top-k scan, the window)
runs distributed; per-turn scalars (the query vector, the payload string)
legitimately live on the driver. Steps 1 and 4 work on one string each and
run on the driver with the same functions their batch operators map (the
embedder, `trim_prompt`), so neither starts a Spark job. The batch/scale
form of steps 1-5 over millions of rows is the operators themselves
(vector_search, conversation_text, build_prompts, RemoteCompleter.udf).

Rows built on the driver (the session store's session and message rows,
the empty read of a new session) become Arrow LocalRelations through
`session.local_frame`, so evaluating them starts no Python worker.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from vector_search_ai_assistant_mongodbvcore_spark.functions.completion import (
    RemoteCompleter,
    RemoteSummarizer,
)
from vector_search_ai_assistant_mongodbvcore_spark.operators.conversation import (
    DEFAULT_MAX_CONVERSATION_TOKENS,
    conversation_text,
)
# build_prompts is step 4's batch form; perfbench/rag_chat.py traces it here
from vector_search_ai_assistant_mongodbvcore_spark.operators.prompt_budget import (  # noqa: F401
    build_prompts,
    trim_prompt,
)
from vector_search_ai_assistant_mongodbvcore_spark.operators.sessions import SessionStore
from vector_search_ai_assistant_mongodbvcore_spark.operators.vector_search import (
    vector_search_payload,
    vector_search_payload_reranked,
)


def chat_turn(
    spark: SparkSession,
    store: SessionStore,
    corpus,
    session_id: str,
    user_prompt: str,
    embedder,
    completer: RemoteCompleter,
    k: int = 10,
    vector_col: str = "vector",
    id_cols: tuple[str, ...] = ("_id",),
    max_conversation_tokens: int = DEFAULT_MAX_CONVERSATION_TOKENS,
    max_completion_tokens: int = 2000,  # Search/appsettings.json:16
    rerank_candidates: int | None = 30,
    rerank_scorer_factory=None,
) -> str:
    """One user turn end-to-end; returns the completion text and persists
    the exchange (2 messages + session token rollup) transactionally.

    The retrieval stage is retrieve → rerank → payload: cosine recall of
    `rerank_candidates`, then a rerank pass (deterministic lexical scorer by
    default; inject a cross-encoder via `rerank_scorer_factory`) whose order
    is RRF-FUSED with the cosine order before the k survivors become the
    payload (vector_search_payload_reranked fuse=True) — EVAL.md measures
    this fused configuration above every single retrieval leg on MRR/nDCG,
    whereas letting the default scorer REPLACE the cosine order scored
    below its own input (the round-6 finding this default fixes).
    `rerank_candidates=None` disables the rerank stage and serves the raw
    reference shape — payload straight from top-k, exactly
    MongoDbService.cs:227-229."""
    # 1. embed the prompt; usage tokens become promptMessage.Tokens
    #    (ChatService.cs:128-130)
    vectors, counts = embedder.embed_with_usage_numpy([user_prompt])
    query_vector = [float(x) for x in vectors[0]]
    prompt_tokens = int(counts[0])

    # 2. retrieval -> ONE space-joined payload string (MongoDbService.cs:227-229),
    #    with the rerank stage between retrieve and payload when enabled: one
    #    TakeOrdered recall scan, then one Arrow pass over the recalled rows
    #    ranks, scores, fuses and joins them (no window, sort or aggregate)
    if rerank_candidates is not None:
        payload_frame = vector_search_payload_reranked(
            corpus,
            query_vector,
            user_prompt,
            k=k,
            n_candidates=max(rerank_candidates, k),
            vector_col=vector_col,
            id_cols=id_cols,
            scorer_factory=rerank_scorer_factory,
        )
    else:
        payload_frame = vector_search_payload(
            corpus, query_vector, k=k, vector_col=vector_col, id_cols=id_cols
        )
    payload_row = payload_frame.collect()
    rag_payload = payload_row[0]["payload"] if payload_row else ""

    # 3. conversation history, trimmed newest-first (ChatService.cs:248-271)
    conv_rows = (
        conversation_text(
            store.get_messages(session_id),
            max_tokens=max_conversation_tokens,
            tiebreak_col="ts",
        )
        .filter(F.col("session_id") == session_id)
        .collect()
    )
    conversation = conv_rows[0]["conversation"] if conv_rows else ""

    # 4. token-budget trim (ChatService.cs:172-243) on the driver, with the
    #    function build_prompts maps over its rows: one trim implementation,
    #    and no Spark job or Python worker for a single triple
    trimmed = trim_prompt(
        rag_payload, conversation, user_prompt, max_tokens=max_completion_tokens
    )

    # 5. completion (OpenAiService.cs:163-209); usage maps to the completion
    #    message exactly as ChatService.cs:145-149 does (PromptTokens = the
    #    completion call's prompt-side usage)
    completion_text, completion_prompt_tokens, completion_tokens = completer.complete(
        trimmed.conversation_and_prompt, trimmed.trimmed_rag
    )

    # 6. persist transactionally + token rollup (ChatService.cs:302-320)
    store.add_turn(
        session_id,
        prompt_text=user_prompt,
        prompt_tokens=prompt_tokens,
        completion_text=completion_text,
        completion_tokens=completion_tokens,
        completion_prompt_tokens=completion_prompt_tokens,
    )
    return completion_text


def summarize_session_name(
    store: SessionStore, summarizer: RemoteSummarizer, session_id: str, prompt: str
) -> str:
    """Post-first-exchange rename (ChatService.cs:273-282): summarize ->
    F1-clean -> rename. Callers gate on store.first_exchange_sessions() (A4,
    the messages.Count == 2 trigger, ChatPane.razor:255-264)."""
    summary = summarizer.summarize(prompt)
    store.rename_session(session_id, summary)
    return summary
