"""IVF vector index: k-means-partitioned store + centroid-pruned search.

Reference: the `vector-ivf` index kind, numLists=2, cosine
(/root/reference/SharedLib/Services/MongoDbService.cs:144-167); search probes
the index via $search.cosmosSearch (:194-223).

Spark-first construction (SURVEY.md §4): there is no ANN server; instead the
*table layout* is the index.

  build:  driver k-means (operators/kmeans.fit_kmeans) on a bounded hashed
          sample of the unit-normalized vectors -> assign EVERY row
          -> write parquet PARTITIONED BY centroid_id (schema in meta.json)
  search: route the query to its nProbe best lists by the rule that
          assigned the rows (driver-side numpy on the tiny centroid set)
          -> read with centroid_id IN (...) — Catalyst partition pruning
          makes the scan touch nProbe/num_lists of the files — -> exact
          top-k inside the probed subset.

At 100 TB with num_lists ~ sqrt(N) this is the classic IVF-flat tradeoff;
the fit sees at most num_lists * 256 rows. tests/test_ivf.py asserts EXACT
equality with brute force at n_probe = num_lists, monotone recall in
n_probe on uniform random vectors (the no-structure worst case), and
recall >= 0.9 at n_probe=1 of 4 on clustered data (the regime IVF exists
for).

HNSW (MongoDbService.cs:119-143) is intentionally NOT built: no distributed
primitive exists, and batch-scale retrieval is dominated by scan+prune
(SURVEY.md §7 hard part 1). A per-partition hnswlib index via mapPartitions
is the documented extension point if per-query latency ever matters more
than throughput.
"""

from __future__ import annotations

import io
import json
import os
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vector_search_ai_assistant_mongodbvcore_spark.session import local_frame
from vector_search_ai_assistant_mongodbvcore_spark.sources import maintenance

from vector_search_ai_assistant_mongodbvcore_spark.operators.vector_search import (
    vector_search,
)

DEFAULT_NUM_LISTS = 2  # MongoDbService.cs:158 numLists


def _route_scores(unit_rows: np.ndarray, centroids: np.ndarray) -> np.ndarray:
    """(n, k) scores x̂·c - |c|²/2: argmax is the nearest centroid, argmin
    ||x̂ - c||². The one rule rows are assigned and queries routed by."""
    return unit_rows @ centroids.T - 0.5 * (centroids * centroids).sum(axis=1)


def data_fingerprint(df: DataFrame) -> dict:
    """Fingerprint of an index's source table, used by build_if_absent to
    detect a dataset regenerated under the same path (a stale hit would
    silently serve the old corpus).

    File-backed sources (the normal case): md5 over the sorted
    (path, size, mtime_ns) listing of `df.inputFiles()` — a DRIVER-SIDE
    metadata operation, zero executor work, so the staleness check on the
    serving path costs O(#files) stats however large the table is. This is
    the filesystem equivalent of a catalog snapshot id, with the same
    contract: it versions the SOURCE FILES, not the plan on top of them —
    two different transformations over the same files fingerprint alike, so
    build an index from the scan (or bust the cache yourself), exactly as
    you would with a snapshot-id-keyed index over a view.

    Sources with no file listing (in-memory frames, exotic filesystems where
    stat fails): fall back to a content fingerprint — row count plus max()
    of every scalar column, one column-pruned aggregate scan. Small by
    nature (they fit on the driver) so the scan is acceptable there."""
    import hashlib
    from urllib.parse import urlparse

    files = df.inputFiles()
    if files:
        try:
            stats = []
            for uri in sorted(files):
                p = urlparse(uri).path
                st = os.stat(p)
                stats.append(f"{p}:{st.st_size}:{st.st_mtime_ns}")
            return {
                "mode": "files",
                "n_files": str(len(files)),
                "files_md5": hashlib.md5("\n".join(stats).encode()).hexdigest(),
            }
        except OSError:
            pass  # non-local scheme: fall through to the content scan
    scalar_cols = [
        f.name
        for f in df.schema.fields
        if not isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType, T.BinaryType))
    ]
    aggs = [F.count(F.lit(1)).alias("_rows")] + [
        F.max(c).alias(f"max_{c}") for c in scalar_cols
    ]
    row = df.agg(*aggs).collect()[0]
    return {k: (None if v is None else str(v)) for k, v in row.asDict().items()}


class IvfIndex:
    """IVF-flat index materialized as centroid-partitioned parquet.

    `dataplane` (r13): metadata/centroid objects and partition cleanup
    route through the sources/dataplane.py seam, so the index tablespace
    lives on the same storage universe as the tables (None = the module
    default the table layer resolves — patched in the object-universe
    test fixtures)."""

    def __init__(self, spark: SparkSession, path: str, dataplane=None):
        from vector_search_ai_assistant_mongodbvcore_spark.sources import (
            managed_table as _mt,
        )

        self.spark = spark
        self.path = path
        self.plane = dataplane if dataplane is not None else _mt._DEFAULT_DATAPLANE

    # ---- build -----------------------------------------------------------
    def exists(self) -> bool:
        """V5: index-exists check (the reference lists indexes and builds
        only when `vectorSearchIndex` is absent, MongoDbService.cs:76-113)."""
        return self.plane.exists(os.path.join(self.path, "meta.json"))

    def build_if_absent(self, df: DataFrame, **build_kwargs) -> "IvfIndex":
        """Create-if-missing OR stale, mirroring
        MongoDbService.CreateVectorIndexIfNotExists. Staleness = the stored
        data fingerprint no longer matches `df` (regenerated dataset under
        the same path) — a stale hit would silently serve the old corpus —
        or a meta.json with no recorded data/ schema (written before reads
        pinned it)."""
        m = self.meta() if self.exists() else {}
        if "schema" not in m or m.get("fingerprint") != data_fingerprint(df):
            self.build(df, **build_kwargs)
        return self

    def build(
        self,
        df: DataFrame,
        vector_col: str = "embedding",
        num_lists: int = DEFAULT_NUM_LISTS,
        seed: int = 42,
        max_iter: int = 20,
        quantize: bool | str = False,
        pq_m: int = 8,
        pq_bits: int = 8,
        id_col: str = "vec_id",
    ) -> "IvfIndex":
        """Fit num_lists centroids on the driver (kmeans.fit_kmeans: at
        most num_lists * 256 sample rows; raises, naming MAX_FIT_BYTES,
        when the driver bound leaves fewer than 39 per list), assign EVERY
        row as add_documents does, write partitioned by centroid_id and
        record the data/ schema in meta.json, so reads never infer it.

        quantize=True stores vectors int8 (functions/vector.quantize_int8)
        — the same 4x serving-IO cut as LshIndex(quantize=True); search()
        dequantizes in the scan projection and accepts `exact_source` for
        full-precision re-ranking.

        quantize="pq" stores product-quantization codes instead of the
        vectors (operators/pq.py — the FAISS IVF-PQ layout): pq_m one-byte
        codes per vector (16-64x IO cut vs float32), codebooks fit on the
        same bounded hashed sample and frozen into meta.json, ADC
        scoring at search() with mandatory-in-practice exact rerank via
        `exact_source`."""
        from vector_search_ai_assistant_mongodbvcore_spark.operators.kmeans import fit_kmeans

        centroids = fit_kmeans(df, vector_col, num_lists, seed=seed, iters=max_iter)
        assigned = df.withColumn("centroid_id", self._assign_col(vector_col, centroids))
        pq_model = None
        if quantize == "pq":
            from vector_search_ai_assistant_mongodbvcore_spark.operators.pq import (
                fit_pq,
                pq_encode_col,
            )

            pq_model = fit_pq(
                df, vector_col=vector_col, id_col=id_col, m=pq_m, bits=pq_bits,
                seed=seed,
            )
            assigned = assigned.withColumn(
                "_pq", pq_encode_col(pq_model, vector_col)
            ).drop(vector_col)
        elif quantize:
            from vector_search_ai_assistant_mongodbvcore_spark.functions.vector import (
                quantize_int8,
            )

            assigned = assigned.withColumn(
                "_q8", quantize_int8(F.col(vector_col))
            ).drop(vector_col)
        schema = maintenance.write_partitioned(
            self.spark, assigned, os.path.join(self.path, "data"), ["centroid_id"], "overwrite"
        )
        buf = io.BytesIO()
        np.save(buf, centroids)
        self.plane.write_bytes(os.path.join(self.path, "centroids.npy"), buf.getvalue())
        meta = {
            "num_lists": num_lists,
            "vector_col": vector_col,
            "seed": seed,
            "quantized": quantize,
            "fingerprint": data_fingerprint(df),
            "schema": schema,
        }
        if id_col in df.columns:
            # the unique id the index shortlists and reranks by — the
            # raw-SQL serve validates the SELECT's bare identifier
            # against this (a non-unique column as the shortlist /
            # semi-join rerank key would inflate or collapse the
            # candidate set beyond the documented recall contract).
            # Recorded ONLY when the column is real: `id_col` has a
            # default ("vec_id"), and stamping that default onto a
            # table keyed differently would poison every meta-driven
            # consumer (apply_index_changes keys remove/add off the
            # stored id; the SQL serve would decline or, worse,
            # validate against a phantom). Absent id_col => quantized
            # SQL serving declines to the full scan, and incremental
            # maintenance falls back to its per-call id column —
            # both the safe directions.
            meta["id_col"] = id_col
        if pq_model is not None:
            meta["pq_model"] = pq_model
        self.plane.write_text(
            os.path.join(self.path, "meta.json"), json.dumps(meta)
        )
        return self

    # ---- incremental maintenance ----------------------------------------
    @staticmethod
    def _assign_col(vector_col: str, centroids: np.ndarray):
        """centroid_id column for build and add_documents: argmax of
        _route_scores, one Arrow-batched pass with the (num_lists × dims)
        centroid matrix closed over (a few KB; ships with the task like
        any broadcast literal)."""
        from pyspark.sql.functions import pandas_udf
        from pyspark.sql.types import IntegerType

        @pandas_udf(IntegerType())
        def assign(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
            for s in batches:
                m = np.stack(s.to_numpy()).astype(np.float64)
                norms = np.linalg.norm(m, axis=1)
                norms[norms == 0.0] = 1.0
                scores = _route_scores(m / norms[:, None], centroids)
                yield pd.Series(np.argmax(scores, axis=1).astype("int32"))

        return assign(F.col(vector_col))

    def add_documents(
        self, df: DataFrame, id_col: str, on_duplicate: str = "error"
    ) -> "IvfIndex":
        """Absorb new vectors near-real-time: each is assigned to its
        nearest EXISTING centroid (the centroids stay frozen — the standard
        IVF maintenance contract; re-fit by rebuilding when drift warrants)
        and APPENDed into that centroid's partition. After add_documents,
        search() == a fresh build that reuses the same centroids (asserted
        in tests). Duplicate-id guard: maintenance.check_duplicates."""
        m = self.meta()
        vector_col = m["vector_col"]
        df = maintenance.check_duplicates(df, lambda: self.data(m), id_col, on_duplicate)
        assigned = df.withColumn(
            "centroid_id", self._assign_col(vector_col, self._centroids())
        )
        if m.get("quantized") == "pq":
            from vector_search_ai_assistant_mongodbvcore_spark.operators.pq import (
                pq_encode_col,
            )

            # frozen codebooks, same as the frozen centroids above
            assigned = assigned.withColumn(
                "_pq", pq_encode_col(m["pq_model"], vector_col)
            ).drop(vector_col)
        elif m.get("quantized"):
            from vector_search_ai_assistant_mongodbvcore_spark.functions.vector import (
                quantize_int8,
            )

            assigned = assigned.withColumn("_q8", quantize_int8(F.col(vector_col))).drop(
                vector_col
            )
        maintenance.write_partitioned(
            self.spark, assigned, os.path.join(self.path, "data"), ["centroid_id"]
        )
        return self

    def remove_documents(self, ids, id_col: str) -> "IvfIndex":
        """Delete vectors near-real-time: copy-on-write of exactly the
        centroid partitions holding the doomed ids
        (maintenance.remove_rows; an emptied partition is dropped). Unknown
        ids are ignored; search() afterwards == a fresh build over the
        survivors with the same centroids."""
        maintenance.remove_rows(
            self.spark, os.path.join(self.path, "data"), ["centroid_id"], id_col, ids,
            self.meta()["schema"], self.plane,
        )
        return self

    def compact(self, max_files_per_partition: int = 8) -> int:
        """Maintenance for the append add-path (see LshIndex.compact):
        rewrites centroid partitions whose file count reached the
        threshold; returns partitions rewritten, 0 = zero IO."""
        return maintenance.compact_partitioned_dir(
            self.spark, os.path.join(self.path, "data"), ["centroid_id"],
            max_files_per_partition, plane=self.plane, schema=self.meta()["schema"],
        )

    # ---- search ----------------------------------------------------------
    def _centroids(self) -> np.ndarray:
        return np.load(
            io.BytesIO(self.plane.read_bytes(os.path.join(self.path, "centroids.npy")))
        )

    def meta(self) -> dict:
        return json.loads(self.plane.read_text(os.path.join(self.path, "meta.json")))

    def data(self, meta: "dict | None" = None) -> DataFrame:
        """The data/ scan with the schema build recorded (no footer job),
        cached per session (maintenance.read_partitioned)."""
        return maintenance.read_partitioned(
            self.spark, os.path.join(self.path, "data"), (meta or self.meta())["schema"]
        )

    def nearest_centroids(self, query: list[float], n_probe: int) -> list[int]:
        """The n_probe lists a query probes, best first, ranked by the rule
        that assigned the rows (_route_scores; first index on ties), so a
        stored vector's first probe is its own list."""
        q = np.asarray(query, dtype=np.float64)
        qn = q / (np.linalg.norm(q) or 1.0)
        scores = _route_scores(qn[None, :], self._centroids())[0]
        return [int(i) for i in np.argsort(-scores, kind="stable")[:n_probe]]

    def search(
        self,
        query: list[float],
        k: int = 10,
        n_probe: int = 1,
        use_pandas: bool = True,
        id_col: str | None = None,
        round_scores: int | None = None,
        exact_source: DataFrame | None = None,
        expand: int = 4,
    ) -> DataFrame:
        """Centroid-pruned exact top-k, returned as a LAZY DataFrame over the
        index files (no driver-side collect — callers compose further ops on
        it). The IN-filter on the partition column prunes at file-listing
        time (check explain(): PartitionFilters).

        On a quantized index, scores come from the dequantized int8 codes
        (quantize=True) or from PQ ADC lookups over the stored codes with
        the float vectors never read (quantize="pq"); with `exact_source`
        the shortlist of k*expand ids is rescored at full precision
        against the source table (broadcast semi join — keep the source
        bucketed by id at warehouse scale). PQ scores are coarse by
        design: treat no-rerank PQ results as candidate sets."""
        meta = self.meta()
        probes = self.nearest_centroids(query, n_probe)
        scan = self.data(meta).filter(F.col("centroid_id").isin(probes))
        quantized = meta.get("quantized", False)
        shortlist_k = k * expand if (quantized and exact_source is not None) else k
        if quantized == "pq":
            from vector_search_ai_assistant_mongodbvcore_spark.operators.pq import adc_topk

            # ADC over the probed partitions' CODES — the float vectors are
            # never read; TakeOrderedAndProject picks the shortlist
            approx = adc_topk(
                scan.withColumnRenamed("_pq", "codes"), meta["pq_model"], query,
                k=shortlist_k, id_col=id_col if id_col is not None else "vec_id",
                round_scores=round_scores if round_scores is not None else 6,
            )
        else:
            if quantized:
                from vector_search_ai_assistant_mongodbvcore_spark.functions.vector import (
                    dequantize_int8,
                )

                scan = scan.withColumn(meta["vector_col"], dequantize_int8("_q8")).drop("_q8")
            approx = vector_search(
                scan,
                query,
                k=shortlist_k,
                vector_col=meta["vector_col"],
                use_pandas=use_pandas,
                id_col=id_col,
                round_scores=round_scores,
            ).drop("centroid_id")
        if not (quantized and exact_source is not None):
            return approx
        key = id_col if id_col is not None else approx.columns[0]
        ids = approx.select(key)
        exact_cands = exact_source.join(F.broadcast(ids), key, "left_semi")
        return vector_search(
            exact_cands,
            query,
            k=k,
            vector_col=meta["vector_col"],
            use_pandas=use_pandas,
            id_col=id_col,
            round_scores=round_scores,
        )

    def search_many(
        self,
        queries,
        k: int = 10,
        n_probe: int = 1,
        use_pandas: bool = True,
        id_col: "str | None" = None,
        round_scores: "int | None" = None,
        exact_source: "DataFrame | None" = None,
        expand: int = 4,
        query_id_col: str = "query_id",
        query_vec_col: str = "query_vector",
    ) -> DataFrame:
        """Batched centroid-pruned serving: ONE scan of the union of every
        query's probe partitions answers the whole batch.  Routing is a
        broadcast (query_id, centroid_id) frame joined onto the partition
        column — each data row is scored once per query that probes its
        partition, so candidate volume is Σ_q rows(probes(q)), never
        N×Q — then a per-query window cuts the top-k.  Output (query_id,
        <id_col>, score, rank); row-for-row identical to looping
        search() with the same arguments (asserted in tests).

        `queries` = small DataFrame with (query_id, query_vector) columns
        or a sequence of (id, vector) pairs.  On a quantized index scores
        come from dequantized int8 / PQ ADC exactly as in search();
        `exact_source` reranks each query's k*expand shortlist at full
        precision (one broadcast join for ALL queries)."""
        from vector_search_ai_assistant_mongodbvcore_spark.operators.batch_serving import (
            collect_query_batch,
            finish_scores,
            make_cosine_scores_by_query,
            normalized_query_matrix,
            topk_per_query,
        )
        from vector_search_ai_assistant_mongodbvcore_spark.functions.vector import (
            cosine_similarity,
            dequantize_int8,
        )

        pairs, qid_type = collect_query_batch(queries, query_id_col, query_vec_col)
        meta = self.meta()
        key = id_col if id_col is not None else "vec_id"
        vector_col = meta["vector_col"]
        quantized = meta.get("quantized", False)
        shortlist_k = k * expand if (quantized and exact_source is not None) else k

        # driver-side routing: probes per query over the tiny centroid set
        probe_rows = [
            (qid, int(c), [float(x) for x in vec])
            for qid, vec in pairs
            for c in self.nearest_centroids(list(vec), n_probe)
        ]
        routing = local_frame(
            self.spark,
            probe_rows,
            f"query_id {qid_type}, centroid_id int, _qvec array<double>",
        )
        all_probes = sorted({c for _, c, _ in probe_rows})
        scan = self.data(meta).filter(F.col("centroid_id").isin(all_probes))
        cand = scan.join(F.broadcast(routing), "centroid_id")

        if quantized == "pq":
            # per-query ADC LUTs: the same gather+sum kernel as
            # pq.adc_score_col, grouped by query id within each batch
            from pyspark.sql.types import DoubleType

            from vector_search_ai_assistant_mongodbvcore_spark.operators.pq import query_lut

            model = meta["pq_model"]
            m_sub = model["m"]
            luts = {qid: query_lut(model, [float(x) for x in vec]) for qid, vec in pairs}

            @F.pandas_udf(DoubleType())
            def adc_many(
                it: "Iterator[tuple[pd.Series, pd.Series]]",
            ) -> "Iterator[pd.Series]":
                for qid_s, codes in it:
                    out = np.zeros(len(qid_s), dtype=np.float64)
                    for qid, pos in qid_s.groupby(qid_s, sort=False).groups.items():
                        idx = qid_s.index.get_indexer(pos)
                        c = np.stack(codes.iloc[idx].values).astype(np.int64)
                        out[idx] = luts[qid][np.arange(m_sub)[None, :], c].sum(axis=1)
                    yield pd.Series(out)

            scored = cand.withColumn(
                "score",
                F.round(
                    adc_many(F.col("query_id"), F.col("_pq")),
                    round_scores if round_scores is not None else 6,
                ),
            )
            approx = topk_per_query(scored, "query_id", key, "score", shortlist_k)
        else:
            if quantized:
                cand = cand.withColumn(vector_col, dequantize_int8("_q8")).drop("_q8")
            if use_pandas:
                scorer = make_cosine_scores_by_query(normalized_query_matrix(pairs))
                scored = cand.withColumn(
                    "score", scorer(F.col("query_id"), F.col(vector_col))
                )
            else:
                scored = cand.withColumn(
                    "score",
                    cosine_similarity(
                        F.col(vector_col).cast("array<double>"), F.col("_qvec")
                    ),
                )
            scored = finish_scores(scored, "score", round_scores)
            approx = topk_per_query(scored, "query_id", key, "score", shortlist_k)
        if not (quantized and exact_source is not None):
            return approx
        # full-precision rerank of every query's shortlist in ONE join:
        # the Q×shortlist_k id set is broadcast against the source table
        shortlist = approx.select("query_id", key)
        exact_cands = exact_source.join(F.broadcast(shortlist), key).select(
            "query_id", key, vector_col
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
        return topk_per_query(rescored, "query_id", key, "score", k)
