"""The registry contract: one @register declaration per query fixes its
slot, and the first 50 slots are the order the correctness gate
recorded."""

from __future__ import annotations

import json
import os

import pytest

from vector_search_ai_assistant_mongodbvcore_spark import queries as Q

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_first_50_slots_are_the_recorded_order_and_chat_turn_is_last():
    with open(os.path.join(_ROOT, "CORRECTNESS_r16.json")) as f:
        recorded = list(json.load(f))
    assert list(Q.REGISTRY)[:50] == recorded
    assert [r.slot for r in Q.REGISTRY.values()] == list(range(1, len(Q.REGISTRY) + 1))
    assert list(Q.REGISTRY)[-1] == "chat_turn"


def test_register_rejects_a_taken_name():
    before = dict(Q.REGISTRY)
    with pytest.raises(ValueError, match="already registered"):
        Q.register("pricing_summary", None, slot=len(before) + 1)(lambda spark, sf_dir: None)
    assert Q.REGISTRY == before


def test_register_rejects_a_taken_slot():
    before = dict(Q.REGISTRY)
    with pytest.raises(ValueError, match="slot taken by 'pricing_summary'"):
        Q.register("not_a_query", None, slot=1)(lambda spark, sf_dir: None)
    assert Q.REGISTRY == before
