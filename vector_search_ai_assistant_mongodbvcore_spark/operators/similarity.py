"""Similarity search & join over embedding columns.

Extended surface (BASELINE.json north star): approximate-nearest-neighbor
over `array<float>` embeddings.

  knn_brute_force       exact top-k for a query BATCH (one matmul per Arrow
                        batch, one scan for all queries)
  cosine_pairs_exact    all pairs with cosine >= threshold (self-join; the
                        sf-scale oracle path)
  lsh_ann               one-shot random-hyperplane LSH query (ad-hoc path)
  LshIndex              MATERIALIZED bucket-partitioned LSH (serving path:
                        build once, partition-prune per query)
  embedding_neardup     near-duplicate pairs by embedding cosine
                        (bucket posting lists -> in-list pair expansion)

Scale notes: brute force is a full scan per query batch — fine when queries
are batched (Q vectors broadcast in one pass: cost O(N·Q·D) FLOPS via one
numpy matmul per Arrow batch, embarrassingly parallel). The LSH variants cut
candidate sets by 2^bits buckets; recall is tunable with `tables` (OR of
several hash tables), the standard random-hyperplane construction (Charikar).
"""

from __future__ import annotations

import os
from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vector_search_ai_assistant_mongodbvcore_spark.functions.vector import (
    cosine_similarity,
    stack_vectors,
)
from vector_search_ai_assistant_mongodbvcore_spark.session import local_frame
from vector_search_ai_assistant_mongodbvcore_spark.sources import maintenance


def knn_candidates(
    df: DataFrame,
    queries: Sequence[Sequence[float]],
    k: int = 10,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    round_scores: int | None = None,
) -> DataFrame:
    """Per-PARTITION top-k candidates for a batch of query vectors.

    One mapInPandas pass: each task scores its whole partition against all Q
    queries (one numpy matmul per Arrow batch) and emits ONLY its local
    top-k per query — at most P×Q×k rows total leave the scan stage, never
    the N×Q scored table. Scores are quantized (`round_scores`) BEFORE the
    local selection so the local and global rankings use identical keys
    (score desc, id asc)."""
    from pyspark.sql import types as T

    Q = np.asarray(queries, dtype=np.float64)  # (q, d)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    nq = Q.shape[0]

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.IntegerType()),
            df.schema[id_col],
            T.StructField("score", T.DoubleType()),
        ]
    )

    def local_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc_ids: list[list] = [[] for _ in range(nq)]
        acc_sc: list[list] = [[] for _ in range(nq)]
        for pdf in batches:
            if not len(pdf):
                continue
            m = stack_vectors(pdf[vector_col], dims=Q.shape[1])  # nulls -> zeros
            norms = np.linalg.norm(m, axis=1, keepdims=True)
            norms[norms == 0.0] = 1.0
            sims = (m / norms) @ Qn.T  # (rows, q)
            if round_scores is not None:
                sims = np.round(sims, round_scores)
            ids = pdf[id_col].to_numpy()
            for qi in range(nq):
                s = sims[:, qi]
                order = np.lexsort((ids, -s))[:k]  # score desc, id asc
                acc_ids[qi].append(ids[order])
                acc_sc[qi].append(s[order])
        frames = []
        for qi in range(nq):
            if not acc_ids[qi]:
                continue
            ids = np.concatenate(acc_ids[qi])
            s = np.concatenate(acc_sc[qi])
            order = np.lexsort((ids, -s))[:k]
            frames.append(
                pd.DataFrame(
                    {
                        "query_id": np.full(len(order), qi, dtype=np.int32),
                        id_col: ids[order],
                        "score": s[order],
                    }
                )
            )
        if frames:
            yield pd.concat(frames, ignore_index=True)

    return df.select(id_col, vector_col).mapInPandas(local_topk, out_schema)


def knn_brute_force(
    df: DataFrame,
    queries: Sequence[Sequence[float]],
    k: int = 10,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    round_scores: int | None = None,
) -> DataFrame:
    """Exact top-k for a BATCH of query vectors in one scan.

    Two stages: per-partition local top-k (knn_candidates — at most P×Q×k
    rows leave the scan), then ONE window over the surviving candidates
    picks the global top-k per query. The shuffle into Q reducer groups
    carries only candidates, so reducer fan-in is bounded by P×k however
    large the table grows. Output: (query_id, id, score).

    `round_scores` quantizes scores BEFORE ranking (with an id tiebreak) so
    an oracle ranking on equally-rounded scores selects identical rows;
    quantizing before the LOCAL selection too keeps both stages' orderings
    identical (a raw-score local cut could drop a lower-id row that ties at
    the rounded precision)."""
    from pyspark.sql import Window

    cand = knn_candidates(
        df, queries, k=k, vector_col=vector_col, id_col=id_col, round_scores=round_scores
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (
        cand.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select("query_id", F.col(id_col), "score")
    )


def cosine_pairs_exact(
    df: DataFrame,
    threshold: float = 0.9,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    use_pandas: bool = True,
) -> DataFrame:
    """All (a, b) pairs with cosine >= threshold — exact, via self-join.

    At large N this is the quadratic baseline the LSH path exists to avoid;
    it remains the correctness oracle and is fine for dimension tables and
    per-bucket verification. The join is a broadcast-nested-loop; Spark
    broadcasts the smaller (projected) side."""
    a = df.select(F.col(id_col).alias("id_a"), F.col(vector_col).alias("_va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vector_col).alias("_vb"))
    joined = a.join(b, F.col("id_a") < F.col("id_b"))
    if use_pandas:
        from pyspark.sql.functions import pandas_udf
        from pyspark.sql.types import DoubleType

        @pandas_udf(DoubleType())
        def pair_cos(it: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
            for va, vb in it:
                # infer dims from whichever side has a real vector — an
                # all-null va batch must not shrink vb (stack_vectors raises
                # on any true dimension mismatch)
                dims = next(
                    (len(v) for s in (va, vb) for v in s if v is not None and len(v)),
                    None,
                )
                ma = stack_vectors(va, dims=dims)
                mb = stack_vectors(vb, dims=dims)
                na = np.linalg.norm(ma, axis=1)
                nb = np.linalg.norm(mb, axis=1)
                na[na == 0] = 1.0
                nb[nb == 0] = 1.0
                yield pd.Series((ma * mb).sum(axis=1) / (na * nb))

        scored = joined.withColumn("cosine", pair_cos(F.col("_va"), F.col("_vb")))
    else:
        scored = joined.withColumn(
            "cosine",
            cosine_similarity(F.col("_va").cast("array<double>"), F.col("_vb").cast("array<double>")),
        )
    return scored.filter(F.col("cosine") >= threshold).select("id_a", "id_b", "cosine")


def _hyperplanes(dims: int, bits: int, tables: int, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.randn(tables, bits, dims)


def lsh_bucket_ids(
    df: DataFrame,
    dims: int,
    bits: int = 12,
    tables: int = 2,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    carry_vector: bool = False,
) -> DataFrame:
    """Random-hyperplane (sign) LSH: (id, table, bucket). bucket = the
    `bits`-bit sign pattern of projections onto fixed Gaussian hyperplanes.

    `carry_vector=True` additionally carries the vector itself through
    the explode as `_v` (cast array<double>) — for consumers that score
    candidates right after bucketing (embedding_neardup): the explode
    duplicates the vector per table exactly as the id-keyed join-back it
    replaces did, but without a second scan of `df` or the join (r16,
    guide §2.4: bucket+window prefix 0.50 -> 0.28 s min-of-4 at sf0.1,
    rows identical)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    H = _hyperplanes(dims, bits, tables, seed)  # (t, b, d)
    weights = (1 << np.arange(bits)).astype(np.int64)

    @pandas_udf(ArrayType(LongType()))
    def buckets(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in batches:
            m = stack_vectors(s, dims=dims)  # (n, d), nulls -> zero vectors
            out = []
            signs = np.einsum("nd,tbd->ntb", m, H) > 0  # (n, t, b)
            codes = signs @ weights  # (n, t)
            out = list(codes)
            yield pd.Series(out)

    # guide §4.4: posexplode's implicit `size(..)>0 AND isnotnull(..)`
    # generator filter is pushed below the projection and the optimizer
    # then evaluates the UDF TWICE (once under the filter, once in the
    # project) — confirmed in the r15 plan audit (two ArrowEvalPython
    # nodes per scan branch). The function is semantically deterministic;
    # the nondeterministic mark only forbids Catalyst from duplicating
    # or reordering it, halving the Python-boundary work per branch.
    buckets = buckets.asNondeterministic()
    if carry_vector:
        coded = df.select(
            F.col(id_col),
            F.col(vector_col).cast("array<double>").alias("_v"),
            buckets(F.col(vector_col)).alias("_codes"),
        )
        return coded.select(
            id_col, "_v", F.posexplode("_codes").alias("table", "bucket")
        )
    coded = df.select(F.col(id_col), buckets(F.col(vector_col)).alias("_codes"))
    return coded.select(id_col, F.posexplode("_codes").alias("table", "bucket"))


def _query_codes(
    query: Sequence[float], bits: int, tables: int, seed: int
) -> list[int]:
    dims = len(query)
    H = _hyperplanes(dims, bits, tables, seed)
    q = np.asarray(query, dtype=np.float64)
    weights = (1 << np.arange(bits)).astype(np.int64)
    return [int(((H[t] @ q) > 0) @ weights) for t in range(tables)]


def lsh_ann(
    df: DataFrame,
    query: Sequence[float],
    k: int = 10,
    bits: int = 12,
    tables: int = 2,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> DataFrame:
    """ONE-SHOT approximate top-k: hashes every row of `df` at call time,
    keeps rows sharing an LSH bucket with the query in ANY table, scores the
    survivors. Honest cost model: this is a full scan + Python hash pass per
    call — right for a single ad-hoc query over an unindexed table, WRONG
    for repeated serving. The serving path is `LshIndex`: hash once, write
    bucket-partitioned, prune partitions per query."""
    q_codes = _query_codes(query, bits, tables, seed)
    bucketed = lsh_bucket_ids(df, len(query), bits, tables, vector_col, id_col, seed)
    cond = F.lit(False)
    for t, c in enumerate(q_codes):
        cond = cond | ((F.col("table") == t) & (F.col("bucket") == c))
    candidates = bucketed.filter(cond).select(id_col).distinct()
    pruned = df.join(candidates, id_col, "inner")  # shuffle-less if broadcast
    from vector_search_ai_assistant_mongodbvcore_spark.operators.vector_search import vector_search

    return vector_search(
        pruned, list(query), k=k, vector_col=vector_col, use_pandas=True, id_col=id_col
    )


class LshIndex:
    """Materialized random-hyperplane LSH index: the serving-path twin of
    `lsh_ann`. `build` hashes the table ONCE and writes it parquet-
    partitioned by (table, bucket) — `tables` copies of the data, the
    classic multi-probe space/recall trade. `search` computes the query's
    `tables` bucket codes driver-side (a few dot products) and reads only
    those partitions: Catalyst partition pruning means the scan touches
    ~tables/2^bits of the files, no per-query hashing of the corpus.

    Same layout discipline as IvfIndex (build/exists/build_if_absent/meta);
    at 100 TB, partition count = tables * 2^bits — size `bits` so each
    bucket holds many files' worth of rows, not the other way around."""

    def __init__(self, spark, path: str, dataplane=None):
        from vector_search_ai_assistant_mongodbvcore_spark.sources import (
            managed_table as _mt,
        )

        self.spark = spark
        self.path = path
        self.data_dir = os.path.join(path, "data")
        # r13: metadata + partition cleanup run on the data-plane seam
        # so the index tablespace shares the tables' storage universe
        self.plane = dataplane if dataplane is not None else _mt._DEFAULT_DATAPLANE

    def _meta_file(self) -> str:
        return os.path.join(self.path, "meta.json")

    def exists(self) -> bool:
        return self.plane.exists(self._meta_file())

    def build_if_absent(self, df: DataFrame, **build_kwargs) -> "LshIndex":
        """Create-if-missing OR stale (stored data fingerprint no longer
        matches `df` — see ivf.data_fingerprint): a regenerated dataset
        under the same path must force a rebuild, not silently serve the
        old corpus. A meta.json with no recorded data/ schema is stale
        too."""
        from vector_search_ai_assistant_mongodbvcore_spark.operators.ivf import (
            data_fingerprint,
        )

        m = self.meta() if self.exists() else {}
        if "schema" not in m or m.get("fingerprint") != data_fingerprint(df):
            self.build(df, **build_kwargs)
        return self

    def build(
        self,
        df: DataFrame,
        dims: int,
        bits: int = 6,
        tables: int = 4,
        vector_col: str = "embedding",
        id_col: str = "vec_id",
        seed: int = 42,
        quantize: bool = False,
    ) -> "LshIndex":
        """quantize=True stores vectors as symmetric per-vector int8
        (functions/vector.quantize_int8: one float scale + tinyint codes)
        instead of float arrays — a ~4x cut of the index's dominant column,
        which at 100 TB is 4x less serving IO per pruned bucket read AND 4x
        less of the `tables`-fold write amplification this layout pays.
        Serving dequantizes in the scan projection (pure column exprs);
        score error is bounded by the per-element quantization step (~1e-2
        on unit vectors, see tests) — pass `exact_source` to search() to
        re-rank a shortlist at full precision."""
        import json

        # one pandas-UDF hash pass, exploded to (table, bucket) rows
        bucketed = lsh_bucket_ids(df, dims, bits, tables, vector_col, id_col, seed)
        data = bucketed.join(df, id_col)
        if quantize:
            from vector_search_ai_assistant_mongodbvcore_spark.functions.vector import (
                quantize_int8,
            )

            data = data.withColumn("_q8", quantize_int8(F.col(vector_col))).drop(
                vector_col
            )
        # default shuffle partitioning: each (table, bucket) combo hashes to
        # exactly ONE partition (one file per dir) while write parallelism
        # stays at the full partition count, not `tables`
        schema = maintenance.write_partitioned(
            self.spark, data, self.data_dir, ["table", "bucket"], "overwrite"
        )
        from vector_search_ai_assistant_mongodbvcore_spark.operators.ivf import (
            data_fingerprint,
        )

        self.plane.write_text(
            self._meta_file(),
            json.dumps(
                {
                    "dims": dims,
                    "bits": bits,
                    "tables": tables,
                    "vector_col": vector_col,
                    "id_col": id_col,
                    "seed": seed,
                    "quantized": quantize,
                    "fingerprint": data_fingerprint(df),
                    "schema": schema,
                }
            ),
        )
        return self

    def meta(self) -> dict:
        import json

        return json.loads(self.plane.read_text(self._meta_file()))

    def data(self, meta: "dict | None" = None) -> DataFrame:
        """The data/ scan pinned to the schema build recorded (no footer
        job), cached per session (maintenance.read_partitioned)."""
        return maintenance.read_partitioned(
            self.spark, self.data_dir, (meta or self.meta()).get("schema")
        )

    def add_documents(self, df: DataFrame, on_duplicate: str = "error") -> "LshIndex":
        """Absorb new vectors near-real-time — the ANN twin of the
        reference's add path (AddRemoveData.cs 'add' → upsert → immediately
        searchable) and of Bm25Index.add_documents. LSH keeps NO global
        statistics (no df/avgdl), so an add is exactly an APPEND of the new
        rows into their (table, bucket) partitions: after add_documents,
        search() is IDENTICAL to a fresh build over the union corpus
        (asserted in tests), with no rescoring caveats.

        Duplicate-id guard (maintenance.check_duplicates; a re-added id
        would surface twice in candidate reads and double its vector's
        storage). 'trust' saves the guard's id-column scan of the index;
        at warehouse scale keep a doc-id side table as Bm25Index does and
        trust here."""
        m = self.meta()
        id_col, vector_col = m["id_col"], m["vector_col"]
        df = maintenance.check_duplicates(df, lambda: self.data(m), id_col, on_duplicate)
        bucketed = lsh_bucket_ids(
            df, m["dims"], m["bits"], m["tables"], vector_col, id_col, m["seed"]
        )
        data = bucketed.join(df, id_col)
        if m.get("quantized"):
            from vector_search_ai_assistant_mongodbvcore_spark.functions.vector import (
                quantize_int8,
            )

            data = data.withColumn("_q8", quantize_int8(F.col(vector_col))).drop(
                vector_col
            )
        maintenance.write_partitioned(self.spark, data, self.data_dir, ["table", "bucket"])
        return self

    def remove_documents(self, ids: "Sequence") -> "LshIndex":
        """Delete vectors near-real-time: the removed ids' (table, bucket)
        partitions are rewritten copy-on-write (dynamic partition
        overwrite) minus the doomed rows; untouched partitions' files are
        never rewritten, and a partition left empty is dropped outright.
        After remove_documents, search() is IDENTICAL to a fresh build
        over the survivors (asserted in tests). Unknown ids are ignored.

        Cost is O(touched partitions' rows) — each id occupies `tables`
        partitions — never a full-index rewrite (maintenance.remove_rows)."""
        m = self.meta()
        maintenance.remove_rows(
            self.spark, self.data_dir, ["table", "bucket"], m["id_col"], ids,
            m.get("schema"), self.plane,
        )
        return self

    def compact(self, max_files_per_partition: int = 8) -> int:
        """Maintenance (the OPTIMIZE analog for the append add-path):
        every add_documents call lands one more file set into the touched
        (table, bucket) partitions, so under streaming ingest a hot
        partition's file count — and search's candidate-read open cost —
        grows with BATCH COUNT. Rewrites exactly the partitions holding
        >= max_files_per_partition parquet files; returns how many were
        rewritten (0 = zero IO). Search results are unchanged (asserted
        in tests); run it from the ingest sink (incremental.py's
        compact_every) or whenever the stream is idle."""
        return maintenance.compact_partitioned_dir(
            self.spark, self.data_dir, ["table", "bucket"], max_files_per_partition,
            plane=self.plane, schema=self.meta().get("schema"),
        )

    def search(
        self,
        query: Sequence[float],
        k: int = 10,
        round_scores: int | None = None,
        use_pandas: bool = True,
        exact_source: DataFrame | None = None,
        expand: int = 4,
    ) -> DataFrame:
        """Partition-pruned top-k. On a quantized index, scores come from
        the dequantized int8 codes (error ~ the quantization step); pass
        `exact_source` (the full-precision table, same id/vector cols) to
        re-rank: the index shortlists k*expand ids from int8 scores, the
        source is semi-joined on that tiny broadcast id set and rescored
        exactly. At warehouse scale keep the source bucketed/sorted by id
        so the semi join prunes instead of scanning."""
        m = self.meta()
        q_codes = _query_codes(query, m["bits"], m["tables"], m["seed"])
        scan = self.data(m)
        cond = F.lit(False)
        for t, c in enumerate(q_codes):
            cond = cond | ((F.col("table") == t) & (F.col("bucket") == c))
        # partition-pruned candidate read; same id may sit in several tables
        candidates = scan.filter(cond).dropDuplicates([m["id_col"]]).drop("table", "bucket")
        if m.get("quantized"):
            from vector_search_ai_assistant_mongodbvcore_spark.functions.vector import (
                dequantize_int8,
            )

            candidates = candidates.withColumn(
                m["vector_col"], dequantize_int8("_q8")
            ).drop("_q8")
        from vector_search_ai_assistant_mongodbvcore_spark.operators.vector_search import (
            vector_search,
        )

        shortlist_k = k * expand if (m.get("quantized") and exact_source is not None) else k
        approx = vector_search(
            candidates,
            list(query),
            k=shortlist_k,
            vector_col=m["vector_col"],
            use_pandas=use_pandas,
            id_col=m["id_col"],
            round_scores=round_scores,
        )
        if not (m.get("quantized") and exact_source is not None):
            return approx
        ids = approx.select(m["id_col"])
        exact_cands = exact_source.join(F.broadcast(ids), m["id_col"], "left_semi")
        return vector_search(
            exact_cands,
            list(query),
            k=k,
            vector_col=m["vector_col"],
            use_pandas=use_pandas,
            id_col=m["id_col"],
            round_scores=round_scores,
        )

    def search_many(
        self,
        queries,
        k: int = 10,
        round_scores: int | None = None,
        use_pandas: bool = True,
        exact_source: DataFrame | None = None,
        expand: int = 4,
        query_id_col: str = "query_id",
        query_vec_col: str = "query_vector",
    ) -> DataFrame:
        """Batched bucket-pruned serving: ONE scan of the union of every
        query's (table, bucket) partitions answers the whole batch.  Each
        query's bucket codes are computed driver-side (the same
        _query_codes as search()) and broadcast as a (query_id, table,
        bucket) routing frame; a data row is scored once per query whose
        buckets cover it, after the same per-(query, id) dedup search()
        applies per query.  Output (query_id, <id_col>, score, rank) —
        row-for-row identical to looping search() (asserted in tests).

        `queries` = small DataFrame with (query_id, query_vector) columns
        or a sequence of (id, vector) pairs.  `exact_source` reranks each
        query's k*expand int8 shortlist at full precision in ONE join,
        as in IvfIndex.search_many."""
        from vector_search_ai_assistant_mongodbvcore_spark.operators.batch_serving import (
            collect_query_batch,
            finish_scores,
            make_cosine_scores_by_query,
            normalized_query_matrix,
            topk_per_query,
        )
        from vector_search_ai_assistant_mongodbvcore_spark.functions.vector import (
            dequantize_int8,
        )

        pairs, qid_type = collect_query_batch(queries, query_id_col, query_vec_col)
        m = self.meta()
        id_col, vector_col = m["id_col"], m["vector_col"]
        shortlist_k = k * expand if (m.get("quantized") and exact_source is not None) else k

        route_rows = []
        for qid, vec in pairs:
            for t, c in enumerate(_query_codes(list(vec), m["bits"], m["tables"], m["seed"])):
                route_rows.append((qid, t, int(c), [float(x) for x in vec]))
        routing = local_frame(
            self.spark,
            route_rows,
            f"query_id {qid_type}, table int, bucket int, _qvec array<double>",
        )
        hit_parts = {(t, c) for _, t, c, _ in route_rows}
        scan = self.data(m)
        cond = F.lit(False)
        for t, c in sorted(hit_parts):
            cond = cond | ((F.col("table") == t) & (F.col("bucket") == c))
        candidates = (
            scan.filter(cond)
            .join(F.broadcast(routing), ["table", "bucket"])
            .dropDuplicates(["query_id", id_col])
            .drop("table", "bucket")
        )
        if m.get("quantized"):
            candidates = candidates.withColumn(
                vector_col, dequantize_int8("_q8")
            ).drop("_q8")
        if use_pandas:
            scorer = make_cosine_scores_by_query(normalized_query_matrix(pairs))
            scored = candidates.withColumn(
                "score", scorer(F.col("query_id"), F.col(vector_col))
            )
        else:
            scored = candidates.withColumn(
                "score",
                cosine_similarity(
                    F.col(vector_col).cast("array<double>"), F.col("_qvec")
                ),
            )
        scored = finish_scores(scored, "score", round_scores)
        approx = topk_per_query(scored, "query_id", id_col, "score", shortlist_k)
        if not (m.get("quantized") and exact_source is not None):
            return approx
        shortlist = approx.select("query_id", id_col)
        exact_cands = exact_source.join(F.broadcast(shortlist), id_col).select(
            "query_id", id_col, vector_col
        )
        if use_pandas:
            scorer = make_cosine_scores_by_query(normalized_query_matrix(pairs))
            rescored = exact_cands.withColumn(
                "score", scorer(F.col("query_id"), F.col(vector_col))
            )
        else:
            qvecs = local_frame(
                self.spark,
                [(qid, [float(x) for x in vec]) for qid, vec in pairs],
                f"query_id {qid_type}, _qvec array<double>",
            )
            rescored = exact_cands.join(F.broadcast(qvecs), "query_id").withColumn(
                "score",
                cosine_similarity(
                    F.col(vector_col).cast("array<double>"), F.col("_qvec")
                ),
            )
        rescored = finish_scores(rescored, "score", round_scores)
        return topk_per_query(rescored, "query_id", id_col, "score", k)


def embedding_neardup(
    df: DataFrame,
    threshold: float = 0.95,
    bits: int = 8,
    tables: int = 4,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    exact: bool = False,
    max_bucket: int = 10_000,
    dims: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine.

    exact=True  -> quadratic exact join (oracle / small tables)
    exact=False -> LSH-blocked: only pairs sharing a bucket are verified
                   with exact cosine; misses pairs LSH never co-buckets
                   (recall < 1, tunable via tables/bits).

    `dims`: the vector dimensionality, needed to draw the hyperplane
    literals. When the caller knows it (the registry's len(_QV_ANN)
    convention, an index meta file), passing it makes construction pure
    plan-building; left None, it is discovered with a one-row first()
    probe — an eager Spark job per construction. The two paths diverge
    on an empty/all-null input (ADVICE r15): the probe path detects it
    and returns an empty local frame, the dims path builds the full
    LSH plan which *evaluates* to the same empty frame — identical
    results, different plan shapes for callers that inspect plans. A
    dims value that disagrees with the data fails loudly at execution:
    stack_vectors raises on any non-null vector whose length != dims
    (mis-bucketing is impossible).

    Verification is a per-bucket BLAS matmul (applyInPandas over the
    (table, bucket) groups — the partitioned_ann pattern): candidate pairs
    are scored inside each bucket and only above-threshold survivors ever
    leave the task, so the N_bucket^2 candidate set is never materialized
    as rows (the earlier pair-join + interpreted-HOF cosine was 4.5x
    slower at sf0.1 and shuffled every candidate). The sim matrix is
    computed in row chunks (~64 MB cap), and buckets hotter than
    `max_bucket` — whose full group would not fit one task — route through
    a streaming equi-join verified with a single dot product over
    pre-normalized vectors. Same pair SET either way; a pair found via
    several tables/routes is collapsed by greatest cosine (the kernels
    agree to float ulps, not bit-for-bit, so max() not distinct())."""
    if exact:
        return cosine_pairs_exact(df, threshold, vector_col, id_col)
    from vector_search_ai_assistant_mongodbvcore_spark.functions.vector import (
        dot_product,
        normalize,
    )

    id_t = df.schema[id_col].dataType.simpleString()
    out_schema = f"id_a {id_t}, id_b {id_t}, cosine double"
    if dims is None:
        probe = df.filter(F.col(vector_col).isNotNull()).select(vector_col).first()
        if probe is None:  # empty / all-null input: empty result, right schema
            return local_frame(df.sparkSession, [], out_schema)
        dims = len(probe[0])
    # r16: the vector rides through the bucket explode (`carry_vector`)
    # instead of being re-joined on id afterwards — one scan and one join
    # fewer, identical rows (the join duplicated _v per table exactly as
    # the explode does)
    data = lsh_bucket_ids(
        df, dims, bits, tables, vector_col, id_col, seed, carry_vector=True
    )
    # ONE shuffle on (table, bucket): the window count, the applyInPandas
    # grouping, and the hot-bucket join all hash-partition on the same key
    w = Window.partitionBy("table", "bucket")
    sized = data.withColumn("_n", F.count(F.lit(1)).over(w)).filter(F.col("_n") > 1)
    small = sized.filter(F.col("_n") <= max_bucket).drop("_n")
    big = sized.filter(F.col("_n") > max_bucket).drop("_n")

    thr = float(threshold)

    def _score_bucket(pdf: "pd.DataFrame") -> "pd.DataFrame":
        empty = pd.DataFrame(
            {
                "id_a": pdf[id_col].iloc[:0],
                "id_b": pdf[id_col].iloc[:0],
                "cosine": pd.Series([], dtype="float64"),
            }
        )
        if len(pdf) < 2:
            return empty
        # sort by id: then row order == id order, so upper-triangle pairs
        # are already (id_a < id_b) — canonical across tables/routes
        pdf = pdf.sort_values(id_col, kind="mergesort")
        ids = pdf[id_col].to_numpy()
        m = np.stack(pdf["_v"].to_numpy()).astype(np.float64, copy=False)
        norms = np.linalg.norm(m, axis=1)
        norms[norms == 0.0] = 1.0  # cos(x, 0) = 0 convention
        mn = m / norms[:, None]
        n = len(ids)
        # row-chunked sims: chunk x n block caps peak memory (~64 MB)
        chunk = max(1, min(n, (64 << 20) // (n * 8)))
        outs_a, outs_b, outs_c = [], [], []
        for s0 in range(0, n, chunk):
            blk = mn[s0 : s0 + chunk] @ mn.T  # (chunk, n)
            ii, jj = np.nonzero(blk >= thr)
            gi = ii + s0
            keep = jj > gi  # strict upper triangle: i < j, no self-pairs
            if keep.any():
                outs_a.append(ids[gi[keep]])
                outs_b.append(ids[jj[keep]])
                outs_c.append(blk[ii[keep], jj[keep]])
        if not outs_a:
            return empty
        return pd.DataFrame(
            {
                "id_a": np.concatenate(outs_a),
                "id_b": np.concatenate(outs_b),
                "cosine": np.concatenate(outs_c),
            }
        )

    pairs_small = small.groupBy("table", "bucket").applyInPandas(
        _score_bucket, out_schema
    )
    # hot buckets: streaming equi-join (never materializes the group in one
    # task), single-dot verify over pre-normalized vectors
    a = big.select("table", "bucket", F.col(id_col).alias("id_a"))
    b = big.select("table", "bucket", F.col(id_col).alias("id_b"))
    cand_big = (
        a.join(b, ["table", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    normed = df.select(
        id_col, normalize(F.col(vector_col).cast("array<double>")).alias("_nv")
    )
    pairs_big = (
        cand_big.join(
            normed.select(F.col(id_col).alias("id_a"), F.col("_nv").alias("_na")),
            "id_a",
        )
        .join(
            normed.select(F.col(id_col).alias("id_b"), F.col("_nv").alias("_nb")),
            "id_b",
        )
        .withColumn("cosine", dot_product("_na", "_nb"))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
    return (
        pairs_small.unionByName(pairs_big)
        .groupBy("id_a", "id_b")
        .agg(F.max("cosine").alias("cosine"))
    )
