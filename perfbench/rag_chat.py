"""rag_chat: the paper's user-facing path, one client in a closed loop.

Set-up vectorizes the generated documents into a catalog `ManagedTable`
and builds an IVF index over it. One catalog change (an upsert and a
delete) then goes through `apply_changes` and `apply_index_changes` and is
confirmed by IVF searches. Set-up also writes EARLIER_EXCHANGES earlier
exchanges into one long session, so that session's history passes the
engine's 1000-token window, and runs one warm-up turn there. Each timed
turn is one `chat_turn` over `catalog.read()`; turns come in pairs: one in
a new session (its first exchange, followed by the first-exchange rename)
and one in the long session.
"""

from __future__ import annotations

import json
import os
import random
import time

import numpy as np

import gen
from harness import Run, mean, median, tree_cpu_s

N_DOCS = 300
DIMS = 128
NUM_LISTS = 4
K = 10
CANDIDATES = 30  # chat_turn's default rerank_candidates
# Chat lengths follow LMSYS-Chat-1M (Zheng et al., 2023; one million real
# chat-model conversations): a user prompt averages 69.5 tokens and a reply
# 214.5. The engine's tokenizer counts one token per generated word.
QUESTION_WORDS = (50, 90)
ANSWER_WORDS = (200, 230)
# 4 earlier exchanges hold at least 4 * (50 + 200) = 1000 tokens, so after
# the warm-up turn every timed turn of the long session sees more history
# than the 1000-token window keeps
EARLIER_EXCHANGES = 4
MIN_PAIRS = 1

LAYERS = {  # per-layer metric -> span names summed per turn
    "functions.embedder.embed_s": ("embed",),
    "operators.vector_search.retrieve_s": ("retrieve",),
    "operators.conversation.window_s": ("get_messages", "window"),
    "operators.prompt_budget.trim_s": ("trim",),
    "functions.completion.complete_s": ("complete",),
    "operators.sessions.persist_s": ("persist",),
}


def _payload_titles(payload: str) -> list[str]:
    """Titles of the documents in a space-joined JSON payload."""
    dec, out, i = json.JSONDecoder(), [], 0
    while i < len(payload):
        if payload[i].isspace():
            i += 1
            continue
        doc, i = dec.raw_decode(payload, i)
        out.append(doc.get("title"))
    return out


def _parquet_files(root: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(d, n)
                out[p] = os.path.getsize(p)
    return out


def run(r: Run) -> dict:
    t_setup = time.perf_counter()
    spark = r.start_spark()
    marks = {"spark": time.perf_counter() - t_setup}  # set-up steps, seconds since its start
    from pyspark.sql import functions as F

    from vector_search_ai_assistant_mongodbvcore_spark.functions.completion import (
        RemoteCompleter, RemoteSummarizer, clean_summary, fake_completion_transport,
        fake_summarize_transport,
    )
    from vector_search_ai_assistant_mongodbvcore_spark.functions.embedder import HashNgramEmbedder
    from vector_search_ai_assistant_mongodbvcore_spark.operators import chat
    from vector_search_ai_assistant_mongodbvcore_spark.operators.ivf import IvfIndex
    from vector_search_ai_assistant_mongodbvcore_spark.operators.sessions import SessionStore
    from vector_search_ai_assistant_mongodbvcore_spark.sources.ingest import ingest_and_vectorize
    from vector_search_ai_assistant_mongodbvcore_spark.sources.managed_table import ManagedTable
    from vector_search_ai_assistant_mongodbvcore_spark.streaming.incremental import (
        apply_changes, apply_index_changes,
    )

    tr = r.tracer
    rng = random.Random(r.seed)
    emb = HashNgramEmbedder(dims=DIMS)
    completer = RemoteCompleter(transport=fake_completion_transport)
    summarizer = RemoteSummarizer(transport=fake_summarize_transport)
    schema = "_id string, title string, text string"
    docs = [(f"doc-{i:05d}", f"doc {i}", t) for i, t in enumerate(gen.doc_texts(rng, N_DOCS))]

    with tr.span("sources.ingest.vectorize"):
        catalog = ManagedTable(spark, f"{r.work}/catalog")
        catalog.overwrite(ingest_and_vectorize(spark.createDataFrame(docs, schema), embedder=emb))
    with tr.span("operators.ivf.build"):
        ivf = IvfIndex(spark, f"{r.work}/ivf").build(
            catalog.read().select("_id", "vector"), vector_col="vector",
            num_lists=NUM_LISTS, seed=r.seed, max_iter=3, id_col="_id",
        )
    store = SessionStore(spark, f"{r.work}/sessions")
    marks["catalog_and_ivf"] = time.perf_counter() - t_setup

    # every run, traced or not: keep the payload chat_turn collects, so the
    # retrieval check needs no extra Spark job
    payloads: list[str] = []
    retrieve_inner = chat.vector_search_payload_reranked

    def retrieve_kept(*args, **kwargs):
        df = retrieve_inner(*args, **kwargs)
        collect = df.collect

        def kept():
            rows = collect()
            payloads.append(rows[0]["payload"] if rows else "")
            return rows

        df.collect = kept
        return df

    # a run is one process, so the wrappers are never unwound
    chat.vector_search_payload_reranked = retrieve_kept
    tr.wrap(chat, "vector_search_payload_reranked", "retrieve", lazy=True)
    tr.wrap(chat, "conversation_text", "window", lazy=True)
    tr.wrap(chat, "build_prompts", "trim", lazy=True)
    tr.wrap(emb, "embed_with_usage_numpy", "embed")
    tr.wrap(completer, "complete", "complete")
    tr.wrap(store, "get_messages", "get_messages")
    tr.wrap(store, "add_turn", "persist")

    questions = gen.questions(rng, 4096, *QUESTION_WORDS)
    text_of = {key: text for key, _, text in docs}
    changes: dict[str, str] = {}  # id -> its change's op
    turns: list[tuple[str, str, str]] = []  # (op id, session, question)
    turn_s, turn_cpu_s, rename_s, written = [], [], [], []
    update = {}  # the change's steps, seconds
    session_turns: dict[str, int] = {}
    first_prompt: dict[str, str] = {}
    sessions_dir = f"{r.work}/sessions"

    def rename(gid: str, sid: str, question: str, timed: bool) -> None:
        """The first-exchange rename that follows a session's first turn."""
        first_prompt[sid] = question
        with r.group(f"rename-{gid}", "rename" if timed else "warmup"), tr.span("rename"):
            t = time.perf_counter()
            eligible = {x.session_id for x in store.first_exchange_sessions().collect()}
            if sid in eligible:
                chat.summarize_session_name(store, summarizer, sid, question)
            dt = time.perf_counter() - t
        r.check(sid in eligible, gid, "session not eligible for the first-exchange rename")
        if timed:
            rename_s.append(dt)

    def earlier_exchanges(sid: str) -> None:
        """Write the long session's earlier exchanges, as if its user had
        chatted before the run."""
        r.attempted += 1
        for n in range(EARLIER_EXCHANGES):
            q = gen.words(rng, rng.randint(*QUESTION_WORDS))
            a = gen.words(rng, rng.randint(*ANSWER_WORDS))
            _, (q_tokens, a_tokens) = emb.embed_with_usage_numpy([q, a])
            store.add_turn(sid, q, int(q_tokens), a, int(a_tokens), int(q_tokens))
            session_turns[sid] = session_turns.get(sid, 0) + 1
            if n == 0:
                rename("earlier", sid, q, timed=False)

    def one_turn(i: int, sid: str, question: str, timed: bool) -> None:
        gid = f"turn-{i}"
        before = _parquet_files(sessions_dir)
        kept = len(payloads)
        r.attempted += 1
        try:
            with r.group(gid, "turn" if timed else "warmup"), tr.span("turn"):
                t, c = time.perf_counter(), tree_cpu_s()
                chat.chat_turn(spark, store, catalog.read(), sid, question, emb, completer)
                dt, dc = time.perf_counter() - t, tree_cpu_s() - c
        except Exception as e:  # a failed turn is counted and the loop goes on
            del payloads[kept:]
            payloads.append("")
            r.check(False, gid, f"{type(e).__name__}: {e}")
            dt = None
        after = _parquet_files(sessions_dir)
        session_turns[sid] = session_turns.get(sid, 0) + 1
        turns.append((gid, sid, question))
        if timed:
            written.append(sum(v for p, v in after.items() if p not in before))
            if dt is not None:
                turn_s.append(dt)
                turn_cpu_s.append(dc)
        if session_turns[sid] == 1:
            rename(gid, sid, question, timed)

    def apply_change() -> None:
        """One change set: delete the last generated document and upsert a
        new product. An IVF search over all lists for each one's text must
        find the upsert first and not find the deleted document."""
        gid = "update-0"
        deleted = docs[-1][0]
        upsert = gen.catalog_upsert(rng, "chg-00000")
        change = spark.createDataFrame(
            [(deleted, "", "", "delete"), upsert], schema + ", _op string"
        )
        probes = emb.embed_numpy([upsert[2], text_of[deleted]])
        r.attempted += 1
        with r.group(gid, "update"), tr.span("update"):
            t1 = time.perf_counter()
            apply_changes(catalog, change, keys=["_id"], embedder=emb)
            t2 = time.perf_counter()
            apply_index_changes(ivf, change, id_col="_id", embedder=emb)
            t3 = time.perf_counter()
            hits = [
                [x["_id"] for x in ivf.search(
                    [float(v) for v in p], k=3, n_probe=NUM_LISTS, id_col="_id"
                ).collect()]
                for p in probes
            ]
            t4 = time.perf_counter()
        r.check(hits[0][:1] == [upsert[0]], gid, f"upserted {upsert[0]} is not the IVF top-1: {hits[0]}")
        r.check(deleted not in hits[1], gid, f"deleted {deleted} still found by IVF search: {hits[1]}")
        changes.update({upsert[0]: "upsert", deleted: "delete"})
        update.update(apply=t2 - t1, apply_index=t3 - t2, search=t4 - t3, total=t4 - t1)

    # the change and the warm-up belong to set-up: the cold first turn
    # pays JIT, Python-worker and plan-cache costs that later ones do not.
    # Set-up operations are checked like timed ones, only not timed.
    apply_change()
    marks["update"] = time.perf_counter() - t_setup
    long_sid = store.create_session()
    earlier_exchanges(long_sid)
    marks["earlier_exchanges"] = time.perf_counter() - t_setup
    one_turn(-1, long_sid, questions[-1], timed=False)
    setup_s = time.perf_counter() - t_setup
    calibration_s = r.calibrate()
    first_timed = len(turns)

    # whole pairs only, so every run's median mixes the two kinds of turn
    # in the same proportion
    i = 0
    deadline = time.perf_counter() + r.seconds
    t_loop = time.perf_counter()
    while i < 2 * MIN_PAIRS or time.perf_counter() < deadline:
        one_turn(i, store.create_session(), questions[i], timed=True)
        one_turn(i + 1, long_sid, questions[i + 1], timed=True)
        i += 2
    loop_s = time.perf_counter() - t_loop

    # ---- untimed output checks -------------------------------------------
    # retrieval: every payload holds K documents from the exact cosine
    # top-CANDIDATES of the generated corpus (the upsert uses a disjoint
    # vocabulary, so it may only add a candidate, never displace one)
    vecs = {x["_id"]: x["vector"] for x in catalog.read().select("_id", "vector").collect()}
    ids = sorted(k for k in vecs if k.startswith("doc-"))
    base = np.asarray([vecs[k] for k in ids], dtype=np.float64)
    base /= np.maximum(np.linalg.norm(base, axis=1, keepdims=True), 1e-12)
    qv = emb.embed_numpy([q for _, _, q in turns]).astype(np.float64)
    for (gid, _, _), q, payload in zip(turns, qv, payloads):
        scores = base @ (q / (np.linalg.norm(q) or 1.0))
        cut = np.sort(scores)[-CANDIDATES] - 1e-6
        allowed = {f"doc {int(ids[x][4:])}" for x in np.nonzero(scores >= cut)[0]}
        got = _payload_titles(payload) if payload else []
        r.check(
            len(got) == K and all(t in allowed or t.startswith("product chg-") for t in got),
            gid, f"payload {got} is not within the exact cosine top-{CANDIDATES}",
        )
    # session store: 2 messages per turn, the token rollup, the rename
    stats = {
        x.session_id: x for x in store.messages.read().groupBy("session_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("tokens") + F.coalesce(F.col("prompt_tokens"), F.lit(0))).alias("tok"),
            F.sort_array(F.collect_list(F.struct("ts", "tokens"))).alias("history"),
        ).collect()
    }
    sessions = {x.session_id: x for x in store.list_sessions().collect()}
    for gid, sid, _ in turns:
        m, s = stats.get(sid), sessions.get(sid)
        r.check(m is not None and m.n == 2 * session_turns[sid], gid,
                f"session {sid} holds {m and m.n} messages for {session_turns[sid]} turns")
        r.check(s is not None and m is not None and s.tokens_used == m.tok, gid,
                f"session {sid} tokens_used {s and s.tokens_used} != message sum {m and m.tok}")
        r.check(s is not None and s.name == clean_summary(" ".join(first_prompt[sid].split()[:2])),
                gid, f"session {sid} was not renamed: {s and s.name!r}")
    # the history a session's last turn saw (all but its own 2 messages)
    longest = max((sum(m.tokens for m in x.history[:-2]) for x in stats.values()), default=0)
    r.check(longest > 1000, "history", f"no turn saw more than 1000 tokens of history ({longest})")
    # catalog: the upsert present, the delete absent
    for key, op in changes.items():
        r.check((key in vecs) == (op == "upsert"), "update-0", f"{key} after {op}: present={key in vecs}")

    timed_turns = [t[0] for t in turns[first_timed:]]
    jobs = [r.job_counts(g) for g in timed_turns]
    r.details.update(
        setup_marks_s=marks, loop_s=loop_s,
        turns=len(turn_s), new_sessions=len(session_turns) - 1,
        turn_s=[round(x, 4) for x in turn_s], turn_p50_s=median(turn_s), turn_cpu_s=[round(x, 2) for x in turn_cpu_s], update_s=update.get("total"),
        longest_history_tokens=longest,
        jobs_per_turn=[x[0] for x in jobs], calibration_s=calibration_s,
    )
    files = _parquet_files(r.work + "/catalog") | _parquet_files(sessions_dir)
    layer = {
        "session.start_s": tr.total("session.start"),
        "sources.ingest.vectorize_s": tr.total("sources.ingest.vectorize"),
        "operators.ivf.build_s": tr.total("operators.ivf.build"),
        "operators.sessions.rename_s": mean(rename_s),
        "streaming.incremental.apply_changes_s": update.get("apply", 0.0),
        "streaming.incremental.apply_index_changes_s": update.get("apply_index", 0.0),
        "operators.ivf.search_s": update.get("search", 0.0) / 2,
        "rag_chat.update_s": update.get("total", 0.0),
        "spark.jobs_per_turn": median(x[0] for x in jobs),
        "spark.stages_per_turn": median(x[1] for x in jobs),
        "sources.managed_table.files": len(files),
        "sources.managed_table.bytes_written_per_turn": mean(written),
        "host.calibration_s": calibration_s,
    }
    for metric, names in LAYERS.items():
        layer[metric] = sum(tr.per_op(n, timed_turns) for n in names)
    return {
        "e2e": {
            "setup_s": (setup_s, "s"),
            "op_cpu_s": (mean(turn_cpu_s), "s"),
        },
        "layer": layer,
        "timed_kinds": {"turn"},
        "ops": len(timed_turns),
        "loop_s": loop_s,
    }
