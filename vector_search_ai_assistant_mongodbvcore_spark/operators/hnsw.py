"""Pure-numpy HNSW graph kernel (Malkov & Yashunin 2016, arXiv:1603.09320).

Reference parity: the reference's first-named index kind is `vector-hnsw`
with m=16 / efConstruction=64 (/root/reference/SharedLib/Services/
MongoDbService.cs:119-143).  `operators/partitioned_ann.py` already wires an
hnswlib-backed factory at those parameters, but hnswlib is an optional
native extra — this module is the always-runnable twin: the same algorithm
(level sampling, greedy upper-layer descent, ef-bounded beam search on the
base layer, the select-neighbors HEURISTIC from the paper's Algorithm 4)
implemented on numpy, so the graph kernel executes and records recall
evidence in every environment.

Space: cosine, like the reference.  Vectors are L2-normalized once at
build; distance = 1 - dot.  Searches return cosine SIMILARITY, matching
`_ExactSearcher` / the hnswlib wrapper in partitioned_ann.py.

Scale note: this is a LOCAL kernel by design — the distributed form is
`partitioned_ann_topk`, which builds one index per partition (bounded by
spark.sql.files.maxPartitionBytes) and merges the P×k candidates with a
TakeOrderedAndProject.  Build is O(n · ef_construction · log n) sequential
per partition; neighbor-distance evaluation inside the beam search is the
hot loop and is batched through one numpy matvec per expansion.

Determinism: level sampling draws from a seeded Generator in insertion
order, so identical (vectors, seed) produce an identical graph — the
property the engine's fingerprint-based index rebuild checks rely on.
"""

from __future__ import annotations

import heapq
import io
import json
import os
import uuid
from typing import Iterator

import numpy as np

__all__ = ["NumpyHNSW", "numpy_hnsw_index_factory", "PartitionedHnswIndex"]


def _normalize(vectors: np.ndarray) -> np.ndarray:
    m = np.ascontiguousarray(vectors, dtype=np.float64)
    if m.ndim != 2:
        raise ValueError(f"expected (n, dim) vectors, got shape {m.shape}")
    norms = np.linalg.norm(m, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    return m / norms


class NumpyHNSW:
    """Hierarchical Navigable Small World graph over cosine space.

    Parameters follow hnswlib naming: `m` is the max out-degree per node
    on layers >= 1 (the base layer allows 2m, the paper's Mmax0);
    `ef_construction` bounds the candidate beam during insert;
    `ef_search` bounds it during queries (raised to k when k is larger).
    """

    def __init__(
        self,
        vectors: np.ndarray,
        m: int = 16,
        ef_construction: int = 64,
        ef_search: int = 64,
        seed: int = 42,
    ):
        if m < 2:
            raise ValueError("m must be >= 2")
        self._v = _normalize(vectors)
        self._n = self._v.shape[0]
        self._m = int(m)
        self._m0 = 2 * int(m)
        self._efc = max(int(ef_construction), self._m)
        self.ef_search = int(ef_search)
        self._mult = 1.0 / np.log(self._m)
        # _links[node] is a list of int lists, one per layer 0..level(node)
        self._links: list[list[list[int]]] = []
        self._entry = -1
        self._top = -1
        rng = np.random.default_rng(seed)
        # draw all levels up front: one uniform per element, in insertion
        # order — the graph is then a pure function of (vectors, seed)
        levels = np.floor(-np.log(rng.uniform(1e-12, 1.0, size=self._n)) * self._mult)
        self._levels = levels.astype(np.int64)
        for i in range(self._n):
            self._insert(i, int(self._levels[i]))

    # -- distance helpers (cosine distance = 1 - dot on normalized rows) --

    def _dist_one(self, q: np.ndarray, node: int) -> float:
        return 1.0 - float(self._v[node] @ q)

    def _dist_many(self, q: np.ndarray, nodes: list[int]) -> np.ndarray:
        return 1.0 - self._v[nodes] @ q

    # -- core graph routines --

    def _greedy_descend(self, q: np.ndarray, ep: int, from_layer: int, to_layer: int) -> int:
        """ef=1 walk: on each layer above `to_layer`, hop to the closest
        neighbor until no neighbor improves."""
        cur, cur_d = ep, self._dist_one(q, ep)
        for layer in range(from_layer, to_layer, -1):
            improved = True
            while improved:
                improved = False
                neigh = self._links[cur][layer]
                if not neigh:
                    continue
                d = self._dist_many(q, neigh)
                j = int(np.argmin(d))
                if d[j] < cur_d:
                    cur, cur_d = neigh[j], float(d[j])
                    improved = True
        return cur

    def _search_layer(self, q: np.ndarray, ep: int, ef: int, layer: int) -> list[tuple[float, int]]:
        """Beam search (paper Algorithm 2): returns <= ef (dist, node)
        pairs, unsorted.  This is the build/search hot loop — visited is
        a flat byte table, neighbor distances are one batched matvec per
        expansion, comparisons run on unboxed floats."""
        v = self._v
        links = self._links
        visited = bytearray(self._n)
        visited[ep] = 1
        d0 = 1.0 - float(v[ep] @ q)
        candidates = [(d0, ep)]  # min-heap by distance
        results = [(-d0, ep)]  # max-heap (neg dist) bounded to ef
        while candidates:
            c_d, c = heapq.heappop(candidates)
            worst = -results[0][0]
            if c_d > worst and len(results) >= ef:
                break
            fresh = []
            for e in links[c][layer]:
                if not visited[e]:
                    visited[e] = 1
                    fresh.append(e)
            if not fresh:
                continue
            dists = (1.0 - v[fresh] @ q).tolist()
            full = len(results) >= ef
            for e, d in zip(fresh, dists):
                if not full or d < worst:
                    heapq.heappush(candidates, (d, e))
                    heapq.heappush(results, (-d, e))
                    if len(results) > ef:
                        heapq.heappop(results)
                    worst = -results[0][0]
                    full = len(results) >= ef
        return [(-nd, e) for nd, e in results]

    def _select_heuristic(self, cand: list[tuple[float, int]], m: int) -> list[int]:
        """Paper Algorithm 4 (keepPrunedConnections=False): keep a
        candidate only if it is closer to the query point than to every
        already-selected neighbor — spreads links across directions
        instead of clustering them.  The candidate-to-candidate distances
        are one small (ef×ef) matmul, not per-candidate matvecs — this
        sits in the insert hot loop (≈2× build wall)."""
        if len(cand) <= 1:
            return [e for _, e in cand]
        order = sorted(range(len(cand)), key=lambda i: cand[i])
        ids = np.fromiter((cand[i][1] for i in order), dtype=np.int64)
        pair = 1.0 - self._v[ids] @ self._v[ids].T  # (ef, ef) — ef is small
        out_pos: list[int] = []
        for j in range(len(ids)):
            if len(out_pos) >= m:
                break
            d_q = cand[order[j]][0]
            if not out_pos or d_q < pair[j, out_pos].min():
                out_pos.append(j)
        if not out_pos:  # all pruned (degenerate duplicates) — keep nearest
            out_pos.append(0)
        return [int(ids[j]) for j in out_pos]

    def _shrink(self, node: int, layer: int) -> None:
        cap = self._m0 if layer == 0 else self._m
        links = self._links[node][layer]
        if len(links) <= cap:
            return
        d = self._dist_many(self._v[node], links)
        cand = list(zip(d.tolist(), links))
        self._links[node][layer] = self._select_heuristic(cand, cap)

    def _insert(self, i: int, level: int) -> None:
        self._links.append([[] for _ in range(level + 1)])
        if self._entry < 0:
            self._entry, self._top = i, level
            return
        q = self._v[i]
        ep = self._entry
        if self._top > level:
            ep = self._greedy_descend(q, ep, self._top, level)
        for layer in range(min(self._top, level), -1, -1):
            w = self._search_layer(q, ep, self._efc, layer)
            neighbors = self._select_heuristic(w, self._m)
            self._links[i][layer] = list(neighbors)
            for e in neighbors:
                self._links[e][layer].append(i)
                self._shrink(e, layer)
            ep = min(w)[1]
        if level > self._top:
            self._entry, self._top = i, level

    # -- public: the partitioned_ann index_factory searcher contract --

    def search(
        self, q: np.ndarray, k: int, ef_search: "int | None" = None
    ) -> tuple[np.ndarray, np.ndarray]:
        """Top-k by cosine similarity: (indices, similarities), best
        first.  `ef_search` overrides the instance beam width for THIS
        call only (never mutates shared/cached instances)."""
        if self._n == 0:
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
        k = min(int(k), self._n)
        qn = np.asarray(q, dtype=np.float64)
        nrm = np.linalg.norm(qn)
        if nrm > 0.0:
            qn = qn / nrm
        ep = self._greedy_descend(qn, self._entry, self._top, 0)
        ef = max(self.ef_search if ef_search is None else int(ef_search), k)
        w = sorted(self._search_layer(qn, ep, ef, 0))[:k]
        idx = np.array([e for _, e in w], dtype=np.int64)
        sims = np.array([1.0 - d for d, _ in w], dtype=np.float64)
        return idx, sims


    # -- serialization (PartitionedHnswIndex segment payloads) ------------

    def to_bytes(self) -> bytes:
        """Flat-array npz encoding of the whole graph: vectors stored
        float32 (2x smaller; scores drift ~1e-7 on a cosine in [-1,1]),
        adjacency as CSR-style (degree, neighbor) arrays in (node, layer)
        order — no pickled Python objects in the on-disk format."""
        deg: list[int] = []
        nbrs: list[int] = []
        for links in self._links:
            for layer_links in links:
                deg.append(len(layer_links))
                nbrs.extend(layer_links)
        buf = io.BytesIO()
        np.savez_compressed(
            buf,
            v=self._v.astype(np.float32),
            levels=self._levels,
            deg=np.asarray(deg, dtype=np.int64),
            nbrs=np.asarray(nbrs, dtype=np.int64),
            scalars=np.asarray(
                [self._m, self._efc, self.ef_search, self._entry, self._top, self._n],
                dtype=np.int64,
            ),
        )
        return buf.getvalue()

    @classmethod
    def from_bytes(cls, data: bytes) -> "NumpyHNSW":
        z = np.load(io.BytesIO(data))
        self = cls.__new__(cls)
        self._v = z["v"].astype(np.float64)
        self._levels = z["levels"]
        m, efc, efs, entry, top, n = (int(x) for x in z["scalars"])
        self._m, self._efc, self.ef_search = m, efc, efs
        self._m0 = 2 * m
        self._entry, self._top, self._n = entry, top, n
        self._mult = 1.0 / np.log(m)
        deg = z["deg"]
        nbrs = z["nbrs"]
        links: list[list[list[int]]] = []
        pos = 0
        slot = 0
        for i in range(n):
            node: list[list[int]] = []
            for _layer in range(int(self._levels[i]) + 1):
                d = int(deg[slot])
                node.append(nbrs[pos: pos + d].tolist())
                pos += d
                slot += 1
            links.append(node)
        self._links = links
        return self


def numpy_hnsw_index_factory(
    m: int = 16, ef_construction: int = 64, ef_search: int = 64, seed: int = 42
):
    """index_factory for partitioned_ann_topk backed by NumpyHNSW — the
    reference's HNSW parameters, runnable in every environment (no native
    extra).  Drop-in alternative to `hnsw_index_factory` (hnswlib)."""

    def factory(vectors: np.ndarray) -> NumpyHNSW:
        return NumpyHNSW(
            vectors, m=m, ef_construction=ef_construction, ef_search=ef_search, seed=seed
        )

    return factory


# Worker-local deserialization cache for serving: segment files are
# attempt-unique (a rebuild/compact never reuses a segment_id), so the id
# alone is a safe cache key. Bounded FIFO — executors serve many indexes.
_SEGMENT_CACHE: "dict[str, NumpyHNSW]" = {}
_SEGMENT_CACHE_MAX = 8

# on-disk segment-schema version: bumped when the parquet layout changes
# (v2 added the ids column) so build_if_absent rebuilds a stale cache
# instead of serving rows the reader cannot decode
_SEGMENT_LAYOUT = 2


def _cached_segment(segment_id: str, payload: bytes) -> NumpyHNSW:
    hit = _SEGMENT_CACHE.get(segment_id)
    if hit is not None:
        return hit
    got = NumpyHNSW.from_bytes(payload)
    if len(_SEGMENT_CACHE) >= _SEGMENT_CACHE_MAX:
        _SEGMENT_CACHE.pop(next(iter(_SEGMENT_CACHE)))
    _SEGMENT_CACHE[segment_id] = got
    return got


class PartitionedHnswIndex:
    """Materialized per-partition HNSW: the reference's `vector-hnsw`
    index kind (MongoDbService.cs:119-143) as a build-once / serve-many
    artifact.  HNSW has no distributed primitive, so the scale form is a
    SEGMENT model (the Lucene/FAISS shard discipline):

      * build(): hash-partition the corpus into `shards` segments, one
        graph per segment built inside mapInPandas (bounded by the
        partition size), serialized into a one-row-per-segment parquet —
        payloads travel Spark's own FS layer (s3a/abfs ready), never the
        driver.
      * search(): one task per segment deserializes its graph (worker-
        local cache keyed by the attempt-unique segment id), beam-serves
        a local top-k, and a global TakeOrderedAndProject merges the
        S×k candidates — the same P×k-bounded merge partitioned_ann and
        IvfIndex serving use.
      * add_documents(): new docs become a NEW delta segment (append-only
        — existing graphs are immutable); remove_documents(): per-segment
        tombstones filtered at serve time; compact() folds segments +
        tombstones back into `shards` fresh graphs.
      * near-real-time: meta()/add_documents/remove_documents match the
        IvfIndex/LshIndex surface, so streaming.incremental
        .apply_index_changes maintains this index unchanged.

    Small metadata (params, fingerprint, segment roster, tombstones)
    lives in meta.json through the dataplane seam; the heavy payloads are
    ordinary parquet.  Rebuild/compact write a fresh attempt-unique
    generation directory and flip meta last — crash debris is an
    unreferenced directory, swept best-effort by the next successful
    flip (the r13 terms-rotation discipline)."""

    def __init__(self, spark, path: str, dataplane=None):
        from vector_search_ai_assistant_mongodbvcore_spark.sources import (
            managed_table as _mt,
        )

        self.spark = spark
        self.path = path
        self.plane = dataplane if dataplane is not None else _mt._DEFAULT_DATAPLANE

    # ---- metadata --------------------------------------------------------

    def _meta_path(self) -> str:
        return os.path.join(self.path, "meta.json")

    def exists(self) -> bool:
        return self.plane.exists(self._meta_path())

    def meta(self) -> dict:
        return json.loads(self.plane.read_text(self._meta_path()))

    def _write_meta(self, meta: dict) -> None:
        self.plane.write_text(self._meta_path(), json.dumps(meta))

    def _read_meta_for_rw(self) -> dict:
        """meta() plus the layout gate every data-touching path needs: a
        pre-v2 on-disk index (no ids column) would otherwise fail deep in
        a plan with an unresolved-column error instead of naming the fix."""
        meta = self.meta()
        if meta.get("layout") != _SEGMENT_LAYOUT:
            raise ValueError(
                f"{self.path}: on-disk segment layout "
                f"{meta.get('layout')!r} != current {_SEGMENT_LAYOUT} — "
                f"rebuild the index (build() or build_if_absent(), which "
                f"detects this and rebuilds automatically)"
            )
        return meta

    def build_if_absent(self, df, **build_kwargs) -> "PartitionedHnswIndex":
        from vector_search_ai_assistant_mongodbvcore_spark.operators.ivf import (
            data_fingerprint,
        )

        if not self.exists():
            self.build(df, **build_kwargs)
            return self
        m = self.meta()
        stale = (
            m.get("fingerprint") != data_fingerprint(df)
            or m.get("layout") != _SEGMENT_LAYOUT  # older on-disk format
        )
        if stale:
            self.build(df, **build_kwargs)
        return self

    # ---- build -----------------------------------------------------------

    def _segments_root(self) -> str:
        return os.path.join(self.path, "segments")

    def _build_segments_df(
        self, df, vector_col: str, id_col: str, id_type: str, m: int,
        ef_construction: int, ef_search: int, seed: int, shards: int,
    ):
        """(segment_id, n, ids, payload) frame: one HNSW graph per hash
        partition, built and serialized executor-side.  The ids live in
        their OWN parquet column so membership checks (duplicate guard,
        tombstone targeting) are column-pruned scans that never decode a
        graph."""
        import pandas as pd

        def build_shard(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
            ids: list = []
            chunks: list[np.ndarray] = []
            for pdf in batches:
                ids.extend(pdf[id_col].tolist())
                chunks.append(np.vstack(pdf[vector_col].to_numpy()))
            if not ids:
                return
            kernel = NumpyHNSW(
                np.vstack(chunks), m=m, ef_construction=ef_construction,
                ef_search=ef_search, seed=seed,
            )
            yield pd.DataFrame(
                {
                    "segment_id": [uuid.uuid4().hex],
                    "n": [len(ids)],
                    "ids": [ids],
                    "payload": [kernel.to_bytes()],
                }
            )

        work = df.select(id_col, vector_col)
        from pyspark.sql import functions as F

        work = work.repartition(shards, F.col(id_col))
        return work.mapInPandas(
            build_shard,
            f"segment_id string, n long, ids array<{id_type}>, payload binary",
        )

    def _write_generation(self, segments_df) -> "tuple[str, int, int]":
        """Write one attempt-unique generation dir; returns
        (dir_name, segment_count, row_count)."""
        gen = f"gen_{uuid.uuid4().hex[:12]}"
        out = os.path.join(self._segments_root(), gen)
        segments_df.write.mode("overwrite").parquet(out)
        counts = self.spark.read.parquet(out).selectExpr(
            "count(*) as segs", "coalesce(sum(n), 0) as rows"
        ).first()
        return gen, int(counts["segs"]), int(counts["rows"])

    def _sweep_unreferenced(self, referenced: "list[str]") -> None:
        """Best-effort removal of generation dirs no meta references
        (crash debris from dead builds, superseded generations)."""
        root = self._segments_root()
        try:
            names = self.plane.list_names(root)
        except (FileNotFoundError, OSError):
            return
        for name in names:
            if name.startswith("gen_") and name not in referenced:
                self.plane.remove_tree(os.path.join(root, name))

    def build(
        self,
        df,
        vector_col: str = "embedding",
        id_col: str = "vec_id",
        m: int = 16,
        ef_construction: int = 64,
        ef_search: int = 64,
        shards: int = 8,
        seed: int = 42,
    ) -> "PartitionedHnswIndex":
        from vector_search_ai_assistant_mongodbvcore_spark.operators.ivf import (
            data_fingerprint,
        )

        id_type = df.schema[id_col].dataType.simpleString()
        segments = self._build_segments_df(
            df, vector_col, id_col, id_type, m, ef_construction, ef_search,
            seed, shards,
        )
        gen, segs, _rows = self._write_generation(segments)
        self._write_meta(
            {
                "kind": "vector-hnsw",
                "layout": _SEGMENT_LAYOUT,
                "m": m,
                "ef_construction": ef_construction,
                "ef_search": ef_search,
                "shards": shards,
                "seed": seed,
                "vector_col": vector_col,
                "id_col": id_col,
                "id_type": id_type,
                "generations": [gen],
                "deleted": {},
                "fingerprint": data_fingerprint(df),
            }
        )
        self._sweep_unreferenced([gen])
        return self

    # ---- serve -----------------------------------------------------------

    def _segments_scan(self, meta: dict):
        # segment generation dirs are immutable once written (adds/compacts
        # create NEW generations and rewrite meta's list), so the cache key
        # — the resolved dir tuple — changes exactly when the data does;
        # no explicit invalidation hook is needed on this layout
        from vector_search_ai_assistant_mongodbvcore_spark.plans import (
            scan_cache as _scan_cache,
        )

        dirs = [os.path.join(self._segments_root(), g) for g in meta["generations"]]
        return _scan_cache.cached_parquet(self.spark, *dirs)

    def search(
        self,
        query,
        k: int = 10,
        ef_search: "int | None" = None,
        round_scores: "int | None" = None,
    ):
        """Global top-k by cosine similarity: segment-local beam searches
        -> TakeOrderedAndProject merge of the S×k candidates.

        `round_scores` quantizes scores BEFORE the global merge (with the
        id tiebreak) — the same contract as IvfIndex/LshIndex serving, so
        the raw-SQL `round(cosine_sim(...), d)` shape ranks identically on
        every access path. The segment-LOCAL cut stays unrounded (it is
        already approximate by beam construction)."""
        import pandas as pd
        from pyspark.sql import functions as F

        meta = self._read_meta_for_rw()
        id_col = meta["id_col"]
        deleted = {sid: frozenset(ids) for sid, ids in meta["deleted"].items() if ids}
        q = np.asarray([float(x) for x in query], dtype=np.float64)
        ef = int(ef_search) if ef_search is not None else None

        def serve(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
            for pdf in batches:
                for _, row in pdf.iterrows():
                    sid = row["segment_id"]
                    kernel = _cached_segment(sid, bytes(row["payload"]))
                    ids = row["ids"]
                    dead = deleted.get(sid, frozenset())
                    # over-fetch by the segment's dead ROW count (an id
                    # can occupy several graph rows if the source held
                    # duplicates — counting distinct tombstones would
                    # under-fetch and drop a deserving live candidate)
                    n_dead_rows = (
                        int(np.isin(np.asarray(ids), list(dead)).sum())
                        if dead
                        else 0
                    )
                    idx, sims = kernel.search(q, k + n_dead_rows, ef_search=ef)
                    keep_ids, keep_scores = [], []
                    for i, s in zip(idx, sims):
                        doc = ids[i]
                        if doc in dead:
                            continue
                        keep_ids.append(doc)
                        keep_scores.append(
                            round(float(s), round_scores)
                            if round_scores is not None
                            else float(s)
                        )
                        if len(keep_ids) >= k:
                            break
                    yield pd.DataFrame({id_col: keep_ids, "score": keep_scores})

        # no repartition: the build writes ~one parquet file per segment,
        # so the scan already yields segment-aligned splits — an Exchange
        # here would ship every graph payload across the cluster per query
        scan = self._segments_scan(meta)
        out_schema = f"{id_col} {meta['id_type']}, score double"
        local = scan.mapInPandas(serve, out_schema)
        return local.orderBy(F.desc("score"), F.asc(id_col)).limit(k)

    def _search_many_candidates(
        self,
        pairs: "list[tuple]",
        qid_type: str,
        k: int,
        ef_search: "int | None",
        round_scores: "int | None",
    ):
        """Segment-local candidates for the whole query batch: each
        segment task deserializes its graph ONCE (worker-local cache) and
        beam-serves every query against it — at most S×Q×k rows leave the
        serving stage.  Per-query kernel calls, tombstone over-fetch and
        rounding are identical to search(), so the global cut selects the
        same rows the per-query loop would."""
        import pandas as pd

        meta = self._read_meta_for_rw()
        id_col = meta["id_col"]
        deleted = {sid: frozenset(ids) for sid, ids in meta["deleted"].items() if ids}
        batch = [
            (qid, np.asarray([float(x) for x in vec], dtype=np.float64))
            for qid, vec in pairs
        ]
        ef = int(ef_search) if ef_search is not None else None

        def serve(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
            for pdf in batches:
                for _, row in pdf.iterrows():
                    sid = row["segment_id"]
                    kernel = _cached_segment(sid, bytes(row["payload"]))
                    ids = row["ids"]
                    dead = deleted.get(sid, frozenset())
                    n_dead_rows = (
                        int(np.isin(np.asarray(ids), list(dead)).sum())
                        if dead
                        else 0
                    )
                    out_qid, out_ids, out_scores = [], [], []
                    for qid, q in batch:
                        idx, sims = kernel.search(q, k + n_dead_rows, ef_search=ef)
                        taken = 0
                        for i, s in zip(idx, sims):
                            doc = ids[i]
                            if doc in dead:
                                continue
                            out_qid.append(qid)
                            out_ids.append(doc)
                            out_scores.append(
                                round(float(s), round_scores)
                                if round_scores is not None
                                else float(s)
                            )
                            taken += 1
                            if taken >= k:
                                break
                    yield pd.DataFrame(
                        {"query_id": out_qid, id_col: out_ids, "score": out_scores}
                    )

        scan = self._segments_scan(meta)
        out_schema = (
            f"query_id {qid_type}, {id_col} {meta['id_type']}, score double"
        )
        return scan.mapInPandas(serve, out_schema), id_col

    def search_many(
        self,
        queries,
        k: int = 10,
        ef_search: "int | None" = None,
        round_scores: "int | None" = None,
        query_id_col: str = "query_id",
        query_vec_col: str = "query_vector",
    ):
        """Batched serving: ONE pass over the segments answers the whole
        query batch (`queries` = small DataFrame with (query_id,
        query_vector) columns, or a sequence of (id, vector) pairs).
        Output (query_id, <id_col>, score, rank), rank 1..k per query by
        (score desc, id asc) — row-for-row identical to looping search()
        (asserted in tests), at 1/Q-th the scans and job overheads."""
        from vector_search_ai_assistant_mongodbvcore_spark.operators.batch_serving import (
            collect_query_batch,
            topk_per_query,
        )

        pairs, qid_type = collect_query_batch(queries, query_id_col, query_vec_col)
        cand, id_col = self._search_many_candidates(
            pairs, qid_type, k, ef_search, round_scores
        )
        return topk_per_query(cand, "query_id", id_col, "score", k)

    # ---- near-real-time maintenance (apply_index_changes surface) --------

    def _live_ids_df(self, meta: dict):
        """Ids currently SERVED (per-segment tombstones applied): a
        column-pruned scan of the ids column — no graph decode.  May
        contain duplicates; consumers are join-based and don't care."""
        from pyspark.sql import functions as F

        from vector_search_ai_assistant_mongodbvcore_spark.session import local_frame

        id_col = meta["id_col"]
        exploded = self._segments_scan(meta).select(
            "segment_id", F.explode("ids").alias(id_col)
        )
        pairs = [
            (sid, doc)
            for sid, docs in meta.get("deleted", {}).items()
            for doc in docs
        ]
        if pairs:
            dead = local_frame(
                self.spark, pairs, f"segment_id string, {id_col} {meta['id_type']}"
            )
            exploded = exploded.join(dead, ["segment_id", id_col], "left_anti")
        # no distinct(): the only consumers are semi/anti joins, which are
        # duplicate-insensitive — a dedup here would be a wasted shuffle
        return exploded.select(id_col)

    def add_documents(
        self, df, id_col: str, on_duplicate: str = "error"
    ) -> "PartitionedHnswIndex":
        """Append-only delta segment: the new docs get their OWN graph
        (existing segments are immutable); serve-time merge sees it at
        the next call. An upsert's re-added id is NOT tombstoned in its
        new segment — tombstones are per-segment (see remove_documents)."""
        from vector_search_ai_assistant_mongodbvcore_spark.sources.maintenance import (
            check_duplicates,
        )

        meta = self._read_meta_for_rw()
        # LIVE ids only: a tombstoned (removed) id is re-addable in every
        # mode — the upsert contract remove_documents documents
        df = check_duplicates(
            df,
            lambda: self._live_ids_df(meta).withColumnRenamed(meta["id_col"], id_col),
            id_col,
            on_duplicate,
        )
        if on_duplicate == "skip" and df.isEmpty():
            return self
        delta = df.withColumnRenamed(id_col, meta["id_col"])
        segments = self._build_segments_df(
            delta, meta["vector_col"], meta["id_col"], meta["id_type"],
            meta["m"], meta["ef_construction"], meta["ef_search"],
            meta["seed"], shards=1,
        )
        gen, segs, _rows = self._write_generation(segments)
        if segs == 0:  # empty batch: drop the empty generation dir
            self.plane.remove_tree(os.path.join(self._segments_root(), gen))
            return self
        meta["generations"] = meta["generations"] + [gen]
        self._write_meta(meta)
        return self

    def remove_documents(self, ids, id_col: "str | None" = None) -> "PartitionedHnswIndex":
        """Tombstone the ids in exactly the segments that HOLD them
        (membership checked with a column-pruned scan — graphs stay
        immutable, serve filters). Absent ids are a no-op, so the
        streaming upsert flow (remove-then-add of mostly-new ids) never
        grows the tombstone lists. A later re-add lands in a new segment
        the tombstones don't cover — exact upsert semantics."""
        from pyspark.sql import functions as F

        ids = [i for i in ids]
        if not ids:
            return self
        meta = self._read_meta_for_rw()
        hits = (
            self._segments_scan(meta)
            .select("segment_id", F.explode("ids").alias("_id"))
            .filter(F.col("_id").isin(ids))
            .distinct()
            .collect()
        )
        if not hits:
            return self
        deleted = meta.get("deleted", {})
        for r in hits:
            merged = set(deleted.get(r["segment_id"], []))
            merged.add(r["_id"])
            deleted[r["segment_id"]] = sorted(merged)
        meta["deleted"] = deleted
        self._write_meta(meta)
        return self

    def compact(self, *, shards: "int | None" = None) -> "PartitionedHnswIndex":
        """Fold all segments + tombstones into `shards` fresh graphs
        (the delta/tombstone model's maintenance valve, like
        IvfIndex.compact): one new generation, tombstones reset, old
        generations swept.  `shards` is keyword-only: duck-typed callers
        passing IvfIndex-style positional args (max_files_per_partition)
        must fail loudly instead of silently re-sharding the index."""
        import pandas as pd

        meta = self._read_meta_for_rw()
        id_col, vector_col = meta["id_col"], meta["vector_col"]
        deleted = {sid: frozenset(v) for sid, v in meta.get("deleted", {}).items()}

        def alive_rows(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
            for pdf in batches:
                for _, row in pdf.iterrows():
                    sid = row["segment_id"]
                    kernel = _cached_segment(sid, bytes(row["payload"]))
                    ids = row["ids"]
                    dead = deleted.get(sid, frozenset())
                    keep = [j for j, doc in enumerate(ids) if doc not in dead]
                    if not keep:
                        continue
                    yield pd.DataFrame(
                        {
                            id_col: [ids[j] for j in keep],
                            # kernel vectors are unit-normalized; rebuilding
                            # from them is score-identical (cosine is
                            # normalization-invariant)
                            vector_col: [
                                kernel._v[j].astype(np.float32).tolist() for j in keep
                            ],
                        }
                    )

        alive = self._segments_scan(meta).mapInPandas(
            alive_rows, f"{id_col} {meta['id_type']}, {vector_col} array<float>"
        )
        segments = self._build_segments_df(
            alive, vector_col, id_col, meta["id_type"], meta["m"],
            meta["ef_construction"], meta["ef_search"], meta["seed"],
            shards if shards is not None else meta["shards"],
        )
        gen, segs, _rows = self._write_generation(segments)
        meta["generations"] = [gen]
        meta["deleted"] = {}
        if shards is not None:
            meta["shards"] = shards
        self._write_meta(meta)
        self._sweep_unreferenced([gen])
        return self
