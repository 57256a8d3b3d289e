"""Token-budgeted prompt construction (proportional trim).

Reference: ChatService.BuildPrompts
(/root/reference/Search/Services/ChatService.cs:172-243):

    ragTokens  = len(encode(ragPayload))                 (:186-187)
    convTokens = len(encode(conversation))               (:189-190)
    promptTokens = len(encode(userPrompt))               (:192)
    totalTokens = ragTokens + convTokens + promptTokens + BUFFER(200)  (:196)
    if totalTokens > maxCompletionTokens:
        tokensToReduce = totalTokens - maxCompletionTokens             (:202)
        ragPct  = ragTokens  / totalTokens               (:205)
        convPct = convTokens / totalTokens               (:206)
        newRag  = round(ragTokens  - ragPct  * tokensToReduce)         (:209)
        newConv = round(convTokens - convPct * tokensToReduce)         (:210)
        rag  = decode(encode(rag)[:newRag])          # HEAD slice (:214-216)
        conv = decode(encode(conv)[-newConv:]) + "\n" + prompt   # TAIL (:219-228)
    else:
        rag, conv = ragPayload, conversation + "\n" + prompt     (:233-237)

Quirks preserved: the percentages divide by totalTokens (which includes the
user prompt AND the 200-token buffer), so ragPct + convPct < 1 and the trim
deliberately under-reduces — the output can still exceed the budget; the
buffer is counted in the estimate but never restored after trimming; RAG
keeps its head, conversation keeps its tail; the user prompt is appended to
the conversation with a newline in BOTH branches; `round()` is C#
Math.Round, which defaults to banker's rounding (MidpointRounding.ToEven),
as Python's round() does — Spark's ROUND is HALF_UP and would diverge at
exact .5.

`trim_prompt` is the one implementation of that arithmetic. A chat turn
calls it on the driver for its single triple; `build_prompts` maps it over
Arrow batches in one pandas UDF, so it trims MILLIONS of (rag, conversation,
prompt) triples per pass — the reference trims one triple per chat turn.
"""

from __future__ import annotations

from typing import Iterator, NamedTuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from vector_search_ai_assistant_mongodbvcore_spark.functions.tokenizer import (
    _encode_py,
    _head_py,
    _tail_py,
)

DEFAULT_MAX_COMPLETION_TOKENS = 2000  # Search/appsettings.json:16
TOKEN_ESTIMATE_BUFFER = 200  # ChatService.cs:180



class Trimmed(NamedTuple):
    """One trimmed triple: the columns build_prompts adds, in its order."""

    rag_tokens_out: int
    conv_tokens_out: int
    trimmed_rag: "str | None"
    trimmed_conversation: "str | None"
    conversation_and_prompt: "str | None"


_TRIMMED_DDL = (
    "rag_tokens_out int, conv_tokens_out int, trimmed_rag string, "
    "trimmed_conversation string, conversation_and_prompt string"
)


def trim_prompt(
    rag: "str | None",
    conversation: "str | None",
    prompt: "str | None",
    max_tokens: int = DEFAULT_MAX_COMPLETION_TOKENS,
    buffer_tokens: int = TOKEN_ESTIMATE_BUFFER,
) -> Trimmed:
    """Proportionally trim (rag, conversation) when
    rag + conversation + prompt + buffer > max_tokens.

    A NULL text counts as zero tokens; it passes through as NULL when under
    budget and is sliced as "" when over, and a NULL conversation or prompt
    makes conversation_and_prompt NULL (SQL concat)."""
    rag_t, conv_t, prompt_t = (len(_encode_py(x)) for x in (rag, conversation, prompt))
    # ChatService.cs:196 totalTokens — this full estimate is ALSO the
    # percentage denominator (:205-206), so ragPct+convPct < 1 and the
    # reference deliberately under-trims. Do not "fix" to rag+conv.
    total = rag_t + conv_t + prompt_t + buffer_tokens
    if total > max_tokens:
        to_reduce = total - max_tokens
        # C# Math.Round = banker's rounding = Python round()
        rag_t = max(round(rag_t - (rag_t / total) * to_reduce), 0)
        conv_t = max(round(conv_t - (conv_t / total) * to_reduce), 0)
        rag = _head_py(rag, rag_t)
        conversation = _tail_py(conversation, conv_t)
    # ChatService.cs:228/:237 — both branches end with conv + "\n" + prompt
    joined = None if conversation is None or prompt is None else conversation + "\n" + prompt
    return Trimmed(rag_t, conv_t, rag, conversation, joined)


def build_prompts(
    df: DataFrame,
    max_tokens: int = DEFAULT_MAX_COMPLETION_TOKENS,
    rag_col: str = "rag_payload",
    conv_col: str = "conversation",
    prompt_col: str = "prompt",
    buffer_tokens: int = TOKEN_ESTIMATE_BUFFER,
) -> DataFrame:
    """`trim_prompt` over every row of `df`.

    Adds columns: rag_tokens_out, conv_tokens_out, trimmed_rag,
    trimmed_conversation, conversation_and_prompt.

    Plan shape: ONE Python eval node — a pandas UDF that maps trim_prompt
    over each Arrow batch and returns the five fields as one struct."""

    @pandas_udf(_TRIMMED_DDL)
    def trim(
        it: Iterator[tuple[pd.Series, pd.Series, pd.Series]]
    ) -> Iterator[pd.DataFrame]:
        for rag, conv, prompt in it:
            yield pd.DataFrame(
                [
                    trim_prompt(*row, max_tokens=max_tokens, buffer_tokens=buffer_tokens)
                    for row in zip(rag, conv, prompt)
                ],
                columns=Trimmed._fields,
            )

    d = df.withColumn("_trim", trim(F.col(rag_col), F.col(conv_col), F.col(prompt_col)))
    return d.withColumns({f: F.col("_trim")[f] for f in Trimmed._fields}).drop("_trim")
