"""F5/F6: BuildPrompts proportional trim vs a hand-computed port of the C#
arithmetic (ChatService.cs:172-243) — denominator includes prompt + buffer,
banker's rounding, head-slice RAG, tail-slice conversation, and the
"\n"+prompt suffix in both branches."""

import json
import pathlib
import random

import pytest
from pyspark.sql import functions as F

from vector_search_ai_assistant_mongodbvcore_spark.functions.tokenizer import (
    _ENC,
    _encode_py,
    _split_py,
)
from vector_search_ai_assistant_mongodbvcore_spark.operators.prompt_budget import (
    TOKEN_ESTIMATE_BUFFER,
    build_prompts,
    trim_prompt,
)
from vector_search_ai_assistant_mongodbvcore_spark.plans.inspect import plan_report

GOLDEN = pathlib.Path(__file__).parent / "fixtures" / "build_prompts_golden.json"

RAG = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
CONV = "one two three four five six seven eight nine ten " * 3
PROMPT = "what products are available today?"


def _expected(rag, conv, prompt, max_tokens):
    """Literal port of ChatService.cs:196-237 (round() in Python 3 IS
    banker's rounding, same as C# Math.Round default)."""
    rag_t, conv_t, prompt_t = (len(_encode_py(x)) for x in (rag, conv, prompt))
    total = rag_t + conv_t + prompt_t + TOKEN_ESTIMATE_BUFFER
    if total > max_tokens:
        reduce = total - max_tokens
        new_rag = round(rag_t - (rag_t / total) * reduce)
        new_conv = round(conv_t - (conv_t / total) * reduce)
        t_rag = "".join(_split_py(rag)[:new_rag])
        t_conv = "".join(_split_py(conv)[-new_conv:]) if new_conv > 0 else ""
        return new_rag, new_conv, t_rag, t_conv + "\n" + prompt
    return rag_t, conv_t, rag, conv + "\n" + prompt


def _run(spark, rag, conv, prompt, max_tokens):
    df = spark.createDataFrame(
        [(rag, conv, prompt)], "rag_payload string, conversation string, prompt string"
    )
    return build_prompts(df, max_tokens=max_tokens).first()


def test_over_budget_trim_matches_csharp_arithmetic(spark):
    row = _run(spark, RAG, CONV, PROMPT, max_tokens=120)
    e_rag_t, e_conv_t, e_rag, e_conv_prompt = _expected(RAG, CONV, PROMPT, 120)
    assert row.rag_tokens_out == e_rag_t
    assert row.conv_tokens_out == e_conv_t
    assert row.trimmed_rag == e_rag
    assert row.conversation_and_prompt == e_conv_prompt


def test_under_budget_passthrough(spark):
    row = _run(spark, "short rag", "short conv", PROMPT, max_tokens=4000)
    assert row.trimmed_rag == "short rag"
    assert row.trimmed_conversation == "short conv"
    # ChatService.cs:237: conversation + "\n" + prompt even when untrimmed
    assert row.conversation_and_prompt == "short conv\n" + PROMPT


def test_under_trim_is_preserved_not_fixed(spark):
    """The reference's percentages divide by the FULL estimate (prompt +
    buffer included), so rag%+conv% < 1 and the result may still exceed the
    budget — a quirk we must preserve, not repair."""
    row = _run(spark, RAG, CONV, PROMPT, max_tokens=120)
    prompt_t = len(_encode_py(PROMPT))
    out_total = row.rag_tokens_out + row.conv_tokens_out + prompt_t + TOKEN_ESTIMATE_BUFFER
    assert out_total > 120  # deliberately still over: the reference under-trims


def test_rag_head_conversation_tail(spark):
    row = _run(spark, RAG, CONV, PROMPT, max_tokens=120)
    assert 0 < len(row.trimmed_rag) < len(RAG)
    assert RAG.startswith(row.trimmed_rag)  # RAG keeps its HEAD (:214-216)
    assert CONV.endswith(row.trimmed_conversation)  # conversation keeps its TAIL (:219-224)


def test_empty_inputs_do_not_crash(spark):
    row = _run(spark, "", "", "", max_tokens=100)
    assert row.rag_tokens_out == 0 and row.conv_tokens_out == 0
    assert row.conversation_and_prompt == "\n"


def _words(rng, n):
    vocab = ["alpha", "beta", "gamma", "bike", "helmet", "road", "42", "ok,", "why?"]
    return " ".join(rng.choice(vocab) for _ in range(n))


def test_trim_prompt_matches_csharp_port_on_random_triples():
    rng = random.Random(7)
    for _ in range(200):
        rag, conv, prompt = (_words(rng, rng.randint(0, n)) for n in (150, 120, 30))
        max_tokens = rng.choice([50, 120, 250, 400])
        got = trim_prompt(rag, conv, prompt, max_tokens=max_tokens)
        e_rag_t, e_conv_t, e_rag, e_conv_prompt = _expected(rag, conv, prompt, max_tokens)
        assert (got.rag_tokens_out, got.conv_tokens_out) == (e_rag_t, e_conv_t)
        assert (got.trimmed_rag, got.conversation_and_prompt) == (e_rag, e_conv_prompt)


def test_build_prompts_is_one_python_eval(spark):
    df = spark.createDataFrame(
        [(RAG, CONV, PROMPT)], "rag_payload string, conversation string, prompt string"
    )
    assert plan_report(build_prompts(df, max_tokens=120)).python_evals == 1


@pytest.mark.skipif(_ENC is not None, reason="fixture recorded with the regex tokenizer")
def test_golden_fixture(spark):
    """Rows recorded from the earlier column-program build_prompts: NULL in
    each input, empty strings, under- and over-budget rows and a banker's
    rounding tie (1 RAG token -> 0.5 -> 0). build_prompts and trim_prompt
    must both reproduce them exactly, with the same output schema."""
    golden = json.loads(GOLDEN.read_text())
    for group in golden["groups"]:
        budget = {"max_tokens": group["max_tokens"], "buffer_tokens": group["buffer_tokens"]}
        rows = group["rows"]
        for row in rows:
            out = row["out"]
            assert list(trim_prompt(*row["in"], **budget)) == [out[3], out[4], *out[:3]]
        df = spark.createDataFrame(
            [(i, *row["in"]) for i, row in enumerate(rows)],
            "id int, rag_payload string, conversation string, prompt string",
        )
        res = build_prompts(df, **budget)
        assert res.schema.simpleString() == golden["schema"]
        got = sorted(res.collect(), key=lambda x: x.id)
        assert [
            [x.trimmed_rag, x.trimmed_conversation, x.conversation_and_prompt,
             x.rag_tokens_out, x.conv_tokens_out]
            for x in got
        ] == [row["out"] for row in rows]
