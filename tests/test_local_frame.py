"""session.local_frame: driver-side rows as an Arrow LocalRelation.

The list form of createDataFrame parallelizes its rows and starts
Python-worker tasks every time the frame is evaluated; local_frame must
plan as a LocalRelation, give the same rows, refuse values that do not fit
the schema, and stay the package's only createDataFrame call.
"""

import ast
import pathlib
from datetime import datetime, timezone

import pyarrow as pa
import pytest

import vector_search_ai_assistant_mongodbvcore_spark as pkg
from vector_search_ai_assistant_mongodbvcore_spark.functions.completion import (
    RemoteCompleter,
    fake_completion_transport,
)
from vector_search_ai_assistant_mongodbvcore_spark.functions.embedder import HashNgramEmbedder
from vector_search_ai_assistant_mongodbvcore_spark.operators.chat import chat_turn
from vector_search_ai_assistant_mongodbvcore_spark.operators.sessions import SessionStore
from vector_search_ai_assistant_mongodbvcore_spark.session import local_frame
from vector_search_ai_assistant_mongodbvcore_spark.sources.ingest import (
    MESSAGE_SCHEMA,
    SESSION_SCHEMA,
    ingest_and_vectorize,
)
from vector_search_ai_assistant_mongodbvcore_spark.sources.managed_table import ManagedTable

from tests.test_prepared_plans import _next_job_id

ROUTING_DDL = "query_id bigint, centroid_id int, _qvec array<double>"


def _plan_node(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()


@pytest.mark.parametrize("rows", [[], [(7, 2, [0.25, -1.0, 0.0])]])
def test_plans_as_local_relation(spark, rows):
    assert _plan_node(local_frame(spark, rows, ROUTING_DDL)) == "LocalRelation"


def test_rows_equal_list_path(spark):
    naive = datetime(2024, 3, 9, 23, 59, 58, 123456)  # UTC wall clock
    sessions = [("s1", "Session", "s1", None, "New Chat"), ("s2", "Session", "s2", 42, "x")]
    messages = [
        ("m1", "Message", "s1", naive, "User", 5, 0, "hi"),
        ("m2", "Message", "s1", None, "Assistant", None, 3, None),
    ]
    # the list path reads a naive datetime in the host's zone; handing it
    # the same instant as an aware UTC datetime makes the reference
    # host-independent, and local_frame must read the naive value as UTC
    aware = [(*m[:3], m[3] and m[3].replace(tzinfo=timezone.utc), *m[4:]) for m in messages]
    routing = [(1, 0, [0.5, -2.0]), (2, 3, [])]
    for rows, reference, schema in (
        (sessions, sessions, SESSION_SCHEMA),
        (messages, aware, MESSAGE_SCHEMA),
        (routing, routing, ROUTING_DDL),
    ):
        got = local_frame(spark, rows, schema)
        want = spark.createDataFrame(reference, schema)
        assert got.schema == want.schema
        assert got.collect() == want.collect()


@pytest.mark.parametrize(
    "rows, schema, error",
    [
        ([("7",)], "n int", (pa.ArrowInvalid, pa.ArrowTypeError)),
        ([(1, 2)], "n int", ValueError),
        ([("a", None)], "a string not null, b int not null", ValueError),
    ],
    ids=["string-for-int", "wrong-width", "null-in-non-nullable"],
)
def test_misfit_rows_raise(spark, rows, schema, error):
    with pytest.raises(error):
        local_frame(spark, rows, schema)


def test_chat_turn_job_counts(spark, tmp_path):
    """A turn's driver-built frames and its prompt trim run no jobs of
    their own, and a table read infers no schema: 5 jobs for a new
    session's first turn and 9 for a session whose history is past the
    1000-token window (11 and 15 with a schema-inference job per table
    read, 16 and 18 with list-built frames as well, 12 and 16 with the
    trim as a 1-row Spark job)."""
    emb = HashNgramEmbedder(dims=64)
    catalog = ManagedTable(spark, str(tmp_path / "catalog"))
    catalog.overwrite(
        ingest_and_vectorize(
            spark.createDataFrame(
                [("p1", "Touring Bike", "A comfortable touring bike for long rides"),
                 ("p2", "Helmet", "A sturdy helmet for safety")],
                "id string, name string, description string",
            ),
            embedder=emb,
        )
    )
    store = SessionStore(spark, str(tmp_path / "sessions"))
    completer = RemoteCompleter(transport=fake_completion_transport)
    long_session = store.create_session()
    for _ in range(4):
        store.add_turn(long_session, "question " * 60, 60, "answer words " * 110, 220, 60)

    def jobs(sid: str, prompt: str) -> int:
        before = _next_job_id(spark)
        chat_turn(spark, store, catalog.read(), sid, prompt, emb, completer,
                  k=2, vector_col="vector", id_cols=("id",))
        return _next_job_id(spark) - before

    jobs(long_session, "warm-up question?")
    assert jobs(store.create_session(), "What kind of bikes?") == 5
    assert jobs(long_session, "And helmets?") == 9


def test_create_data_frame_only_in_local_frame():
    """A list-built frame on a per-turn or per-search path would bring the
    Python-worker round trip back unnoticed: every createDataFrame call in
    the package must be the one inside session.local_frame."""
    root = pathlib.Path(pkg.__file__).parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        allowed = set()
        if path == root / "session.py":
            fn = next(n for n in tree.body
                      if isinstance(n, ast.FunctionDef) and n.name == "local_frame")
            allowed = {id(n) for n in ast.walk(fn)}
        offenders += [
            f"{path.relative_to(root)}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Attribute)
            and node.attr == "createDataFrame"
            and id(node) not in allowed
        ]
    assert not offenders, f"createDataFrame outside session.local_frame: {offenders}"
