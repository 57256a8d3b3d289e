"""Session/message subsystem: CRUD + transaction + token rollup.

Reference surface (all in /root/reference):
  list sessions          MongoDbService.cs:446-464   (Type == "Session")
  load session messages  MongoDbService.cs:471-492   (Type=="Message" & SessionId)
  insert session         MongoDbService.cs:499-512
  insert message         MongoDbService.cs:517-529
  rename/replace session MongoDbService.cs:540-557
  txn: session+2 msgs    MongoDbService.cs:563-592
  delete session+msgs    MongoDbService.cs:598-613
  token rollup           ChatService.cs:313-316
  rename after 1st turn  ChatPane.razor:255-264 (messages.Count == 2)

The reference stores Session and Message polymorphically in ONE collection
with a Type discriminator (SURVEY.md §1.1); here they are two ManagedTables
(cleaner, and partitionable independently). The polymorphic view is still
constructible (union of both with a Type column) for parity queries.
"""

from __future__ import annotations

import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_search_ai_assistant_mongodbvcore_spark.session import local_frame
from vector_search_ai_assistant_mongodbvcore_spark.sources.ingest import (
    MESSAGE_SCHEMA,
    SESSION_SCHEMA,
)
from vector_search_ai_assistant_mongodbvcore_spark.sources.managed_table import (
    ManagedTable,
    TransactionalWriter,
)


class SessionStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        # session_id is a GUID — interleaved across files, so min-max
        # ranges never prune it; the Bloom declaration serves the
        # reference's point reads (MongoDbService.cs:471-492) from the
        # filter index instead. A merge of a table under 1 MB writes
        # one file (ManagedTable's `_one_file_if_small`), so until a
        # table outgrows that the point read opens its one file and the
        # filter index waits for the versions that span several
        self.sessions = ManagedTable(
            spark, f"{root}/sessions", bloom_cols=("session_id",)
        )
        self.messages = ManagedTable(
            spark, f"{root}/messages", bloom_cols=("session_id",)
        )
        self.txn = TransactionalWriter(self.sessions, self.messages)
        if not self.sessions.exists():
            self.sessions.overwrite(local_frame(spark, [], SESSION_SCHEMA))
        if not self.messages.exists():
            self.messages.overwrite(local_frame(spark, [], MESSAGE_SCHEMA))

    # ---- CRUD (S3-S6) ----------------------------------------------------
    def create_session(self, name: str = "New Chat") -> str:
        sid = str(uuid.uuid4())
        row = local_frame(self.spark, [(sid, "Session", sid, 0, name)], SESSION_SCHEMA)
        self.sessions.append(row)
        return sid

    def list_sessions(self) -> DataFrame:
        # filters= routes through min-max data skipping: files whose
        # footer range excludes the predicate are never opened — the
        # reference's compound-key point read (MongoDbService.cs:254-258)
        # served by stats pruning instead of a Mongo index
        return self.sessions.read(filters=[("type", "=", "Session")])

    def get_messages(self, session_id: str) -> DataFrame:
        return self.messages.read(
            filters=[("type", "=", "Message"), ("session_id", "=", session_id)]
        ).orderBy("ts")

    def rename_session(self, session_id: str, new_name: str) -> None:
        cur = self.sessions.read(filters=[("session_id", "=", session_id)])
        self.sessions.merge(cur.withColumn("name", F.lit(new_name)), ["session_id"])

    def delete_session(self, session_id: str) -> None:
        """Predicate delete across both tables (MongoDbService.cs:598-613
        deletes all docs with SessionId regardless of Type)."""
        self.messages.delete(F.col("session_id") == session_id)
        self.sessions.delete(F.col("session_id") == session_id)

    # ---- chat turn (S7 + A3) ----------------------------------------------
    def add_turn(
        self,
        session_id: str,
        prompt_text: str,
        prompt_tokens: int,
        completion_text: str,
        completion_tokens: int,
        completion_prompt_tokens: int,
    ) -> None:
        """One chat exchange: 2 message inserts + session token rollup in a
        cross-table transaction (messages first, session last).

        Token rollup matches ChatService.cs:313-316:
        TokensUsed += promptMessage.Tokens + completion.PromptTokens +
        completion.Tokens."""
        from datetime import timedelta

        # the prompt message's timestamp must PRECEDE the completion's
        # (ChatService.cs:129-130 creates it first for exactly this reason);
        # +1us keeps the newest-first conversation window deterministic
        now = datetime.now(timezone.utc).replace(tzinfo=None)
        after = now + timedelta(microseconds=1)
        msgs = local_frame(
            self.spark,
            [
                (str(uuid.uuid4()), "Message", session_id, now, "User", prompt_tokens, 0, prompt_text),
                (
                    str(uuid.uuid4()),
                    "Message",
                    session_id,
                    after,
                    "Assistant",
                    completion_tokens,
                    completion_prompt_tokens,
                    completion_text,
                ),
            ],
            MESSAGE_SCHEMA,
        )
        delta = prompt_tokens + completion_prompt_tokens + completion_tokens
        sess = (
            self.sessions.read()
            .filter(F.col("session_id") == session_id)
            .withColumn("tokens_used", F.coalesce(F.col("tokens_used"), F.lit(0)) + F.lit(delta))
        )
        self.txn.upsert_session_batch(sess, msgs, ["session_id"], ["id"])

    def first_exchange_sessions(self) -> DataFrame:
        """A4: sessions eligible for auto-rename (exactly one exchange =
        2 messages, ChatPane.razor:255-264)."""
        counts = self.messages.read().groupBy("session_id").agg(F.count(F.lit(1)).alias("n"))
        return counts.filter(F.col("n") == 2).select("session_id")

    def completions_view(self) -> DataFrame:
        """The reference's polymorphic single-collection view."""
        s = self.sessions.read().select(
            "id", "type", "session_id", F.col("tokens_used").cast("int").alias("tokens_used"), "name"
        )
        m = self.messages.read().select(
            "id", "type", "session_id", "ts", "sender", "tokens", "prompt_tokens", "text"
        )
        return s.unionByName(m, allowMissingColumns=True)
