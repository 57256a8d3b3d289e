"""Self-measurement: the engine's retrieval paths scored by the engine's
own evaluate_retrieval, written to EVAL.md.

Protocol (a synthetic known-item task over the driver's documents table):
  * every 5th document donates a QUERY — an 8-word span from inside its
    text (words 10..17); the donor doc is the single relevant item
  * corpus vectors come from the deterministic HashNgramEmbedder over the
    full text; the query embeds the same way, so vector retrieval has a
    real (not planted) signal: the span shares character n-grams with its
    donor
  * five systems, all engine serving paths:
      bm25          Bm25Index.search over the materialized postings
      vector        exact cosine top-k (vector_search) over the corpus
      hybrid        RRF fusion of both legs (rrf_fuse, k=60)
      rerank        hybrid top-20 REPLACED by the lexical scorer's order
                    (rerank rank_col=None — the pre-r7 default policy)
      rerank_fused  vector top-20 RRF-fused with the lexical scorer
                    (rerank rank_col=...) — the chat_turn serving config
  * evaluate_retrieval reports recall@10 / MRR / nDCG@10 macro-averaged

Usage: python tools/eval_retrieval.py [sf_dir]   (default sf0.01)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"


def main() -> None:
    from pyspark.sql import functions as F

    from vector_search_ai_assistant_mongodbvcore_spark import get_spark, load_tables
    from vector_search_ai_assistant_mongodbvcore_spark.functions.embedder import HashNgramEmbedder
    from vector_search_ai_assistant_mongodbvcore_spark.operators import keyword_search as KW
    from vector_search_ai_assistant_mongodbvcore_spark.operators.eval import evaluate_retrieval
    from vector_search_ai_assistant_mongodbvcore_spark.operators.rerank import rerank
    from vector_search_ai_assistant_mongodbvcore_spark.operators.vector_search import vector_search

    spark = get_spark(app_name="eval-retrieval", cpus=16)
    t = load_tables(spark, SF_DIR)
    docs = t["documents"].select("doc_id", "text").cache()

    emb = HashNgramEmbedder(dims=64)
    corpus = docs.withColumn("embedding", emb.udf()(F.col("text"))).cache()
    corpus.count()

    bm25 = KW.Bm25Index(spark, "/tmp/eval_bm25").build(docs)

    from vector_search_ai_assistant_mongodbvcore_spark.operators import pq as PQ

    pq_model = PQ.fit_pq(corpus, vector_col="embedding", id_col="doc_id", m=16, bits=6, seed=7)
    encoded = PQ.encode_pq(corpus, pq_model, vector_col="embedding", id_col="doc_id").cache()
    encoded.count()

    queries = [
        (int(r.doc_id), " ".join((r.text or "").split()[10:18]))
        for r in docs.collect()
        if int(r.doc_id) % 5 == 0 and len((r.text or "").split()) >= 18
    ]
    print(f"{len(queries)} known-item queries from {SF_DIR}", file=sys.stderr)

    res = {"bm25": [], "vector": [], "hybrid": [], "rerank": [], "rerank_fused": [],
           "pq_adc": [], "pq_rerank": []}
    K = 10
    for qid, qtext in queries:
        qv = [float(x) for x in emb.embed_numpy([qtext])[0]]
        terms = KW.tokenize_query(qtext)
        kw = KW.ranked_topk(bm25.search(terms, k=20), "bm25", "doc_id", 20)
        vs = KW.ranked_topk(
            vector_search(corpus, qv, k=20, vector_col="embedding", id_col="doc_id"),
            "score", "doc_id", 20,
        )
        kw_rows = {r.doc_id: r.rank for r in kw.collect()}
        vs_rows = {r.doc_id: r.rank for r in vs.collect()}
        fused = sorted(
            KW.rrf_fuse(kw, vs).collect(), key=lambda r: (-r.rrf, r.doc_id)
        )
        hy_rows = {r.doc_id: i + 1 for i, r in enumerate(fused)}
        cand_ids = list(hy_rows)
        cand = docs.filter(F.col("doc_id").isin(cand_ids))
        rr = sorted(
            rerank(cand, qtext, k=K).collect(),
            key=lambda r: (-r.rerank_score, r.doc_id),
        )
        rr_rows = {r.doc_id: i + 1 for i, r in enumerate(rr)}
        # the chat_turn serving configuration: vector candidates, lexical
        # scorer, RRF fusion of the two orders (rerank rank_col=...)
        cand_v = docs.filter(F.col("doc_id").isin(list(vs_rows))).join(
            spark.createDataFrame(
                list(vs_rows.items()), "doc_id long, ret_rank int"
            ),
            "doc_id",
        )
        rf = sorted(
            rerank(cand_v, qtext, k=K, rank_col="ret_rank").collect(),
            key=lambda r: (-r.fused, r.doc_id),
        )
        rf_rows = {r.doc_id: i + 1 for i, r in enumerate(rf)}
        # PQ serving tier: ADC over codes (float vectors never read),
        # then the engine's standard exact-rerank of the ADC shortlist
        pq_top = PQ.adc_topk(encoded, pq_model, qv, k=20, id_col="doc_id").collect()
        pq_rows = {r.doc_id: i + 1 for i, r in enumerate(pq_top)}
        cand_pq = corpus.filter(F.col("doc_id").isin(list(pq_rows)))
        pr = vector_search(cand_pq, qv, k=K, vector_col="embedding", id_col="doc_id").collect()
        pr_rows = {r.doc_id: i + 1 for i, r in enumerate(pr)}
        for name, rows in (("bm25", kw_rows), ("vector", vs_rows),
                           ("hybrid", hy_rows), ("rerank", rr_rows),
                           ("rerank_fused", rf_rows), ("pq_adc", pq_rows),
                           ("pq_rerank", pr_rows)):
            res[name] += [(qid, d, rk) for d, rk in rows.items()]

    qrels = spark.createDataFrame(
        [(q, q, 1) for q, _ in queries], "query_id long, doc_id long, rel int"
    )
    lines = [
        "# EVAL — retrieval self-measurement (generated by tools/eval_retrieval.py)",
        "",
        f"Known-item task: {len(queries)} 8-word spans over `{SF_DIR}` documents;",
        "donor doc is the single relevant item. Systems are the engine's own",
        "serving paths, scored by operators/eval.evaluate_retrieval.",
        "",
        "| system | recall@10 | MRR | nDCG@10 |",
        "|---|---|---|---|",
    ]
    for name in ("bm25", "vector", "hybrid", "rerank", "rerank_fused", "pq_adc", "pq_rerank"):
        rdf = spark.createDataFrame(res[name], "query_id long, doc_id long, rank int")
        row = evaluate_retrieval(rdf, qrels, k=K).collect()[0]
        lines.append(
            f"| {name} | {row[f'recall_at_{K}']:.3f} | {row['mrr']:.3f} | {row[f'ndcg_at_{K}']:.3f} |"
        )
        print(lines[-1])
    lines += [
        "",
        "Reading: the synthetic corpus draws from a ~30-word vocabulary, so an",
        "8-word span is NOT very distinctive — absolute scores are capped by",
        "genuine ambiguity, which is what makes the comparison informative.",
        "The hash-ngram vector leg (whole-document character n-grams) edges",
        "out bm25 (the span's words occur in most documents; character",
        "n-grams across word boundaries carry more donor-specific signal),",
        "and hybrid RRF beats BOTH single legs on recall@10 — the fusion",
        "recovers donors that only one leg surfaced, the canonical RRF",
        "result.",
        "",
        "The two rerank rows are the policy A/B that set the r7 serving",
        "default: `rerank` REPLACES the retrieval order with the lexical",
        "scorer's (the pre-r7 chat default) and lands BELOW its own input —",
        "a weak scorer overwriting a stronger retriever. `rerank_fused`",
        "RRF-fuses the same scorer with the retrieval order instead",
        "(rerank rank_col=...), and beats every other system on MRR and",
        "nDCG@10 — both parents vote, so the weak scorer refines rather",
        "than overwrites. chat_turn serves rerank_fused; the",
        "fused >= max(single legs) inequality is pinned in",
        "tests/test_eval.py.",
        "",
        "`pq_adc` is the compressed serving tier (operators/pq.py): top-20",
        "by asymmetric-distance lookups over 16x1-byte codes — the float",
        "vectors are never read. `pq_rerank` exact-rescores that shortlist",
        "(the IVF-PQ serving recipe); its gap to `vector` is the recall",
        "cost of 16-subspace/64-centroid compression on this corpus, and",
        "the gap between pq_adc and pq_rerank is what the exact rerank",
        "recovers.",
    ]
    lines += _ann_vs_exact_section(spark, corpus, emb, queries, pq_model, encoded)
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "EVAL.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    spark.stop()




def _ann_vs_exact_section(spark, corpus, emb, queries, pq_model, encoded) -> "list[str]":
    """Recall@10 of every ANN serving path VS THE EXACT top-10 — the
    index-approximation metric the known-item task can't isolate (task
    scores are capped by corpus ambiguity; overlap-with-exact is capped
    only by the index). Round 14: the HNSW graph kernel now records its
    row too — the pure-numpy kernel (operators/hnsw.py) at the
    reference's m=16/efConstruction=64, the same parameters the hnswlib
    factory uses when the native extra is installed."""
    import shutil
    import sys as _sys

    from pyspark.sql import functions as F

    from vector_search_ai_assistant_mongodbvcore_spark.operators import pq as PQ
    from vector_search_ai_assistant_mongodbvcore_spark.operators.ivf import IvfIndex
    from vector_search_ai_assistant_mongodbvcore_spark.operators.similarity import LshIndex
    from vector_search_ai_assistant_mongodbvcore_spark.operators.vector_search import (
        vector_search,
    )

    K = 10
    emb_tbl = corpus.select(F.col("doc_id").alias("vec_id"), "embedding").cache()
    emb_tbl.count()
    for p in ("/tmp/eval_ivf", "/tmp/eval_lsh"):
        shutil.rmtree(p, ignore_errors=True)
    ivf = IvfIndex(spark, "/tmp/eval_ivf").build(
        emb_tbl, vector_col="embedding", num_lists=4, seed=42
    )
    lsh = LshIndex(spark, "/tmp/eval_lsh").build(
        emb_tbl, dims=64, bits=4, tables=4, vector_col="embedding", id_col="vec_id"
    )
    # reuse main()'s fitted PQ model + encoded codes (identical config;
    # only the id alias differs) instead of re-paying the KMeans fit +
    # full-corpus encode — the eval's most expensive stage
    from pyspark.sql import functions as _F

    encoded = encoded.withColumnRenamed("doc_id", "vec_id")

    # HNSW: one local graph over the full corpus (the per-partition build
    # partitioned_ann uses, degenerate P=1 so recall reflects the graph,
    # not the partition merge) at the reference's parameters
    import numpy as _np

    from vector_search_ai_assistant_mongodbvcore_spark.operators.hnsw import NumpyHNSW

    emb_rows = emb_tbl.collect()
    hnsw_ids = _np.array([r.vec_id for r in emb_rows])
    hnsw = NumpyHNSW(
        _np.array([list(r.embedding) for r in emb_rows], dtype=_np.float64),
        m=16,
        ef_construction=64,
        ef_search=64,
    )
    # ... and the SERVED path: the materialized segment index (per-
    # partition graphs + S×k TakeOrdered merge) — segment-local searches
    # can only raise recall vs the single global graph above, and this
    # measures the path hnsw_index_topk actually executes
    from vector_search_ai_assistant_mongodbvcore_spark.operators.hnsw import (
        PartitionedHnswIndex,
    )

    shutil.rmtree("/tmp/eval_hnsw_idx", ignore_errors=True)
    hnsw_idx = PartitionedHnswIndex(spark, "/tmp/eval_hnsw_idx").build(
        emb_tbl, vector_col="embedding", id_col="vec_id", shards=8
    )

    systems = {f"ivf nProbe={p}": p for p in (1, 2, 4)}
    overlaps: "dict[str, list[float]]" = {name: [] for name in systems}
    overlaps["lsh (4x4-bit tables)"] = []
    overlaps["pq_adc (16x6-bit)"] = []
    overlaps["hnsw (m=16, efC=64, efS=64)"] = []
    overlaps["hnsw index (8 segments, served)"] = []
    for _qid, qtext in queries:
        qv = [float(x) for x in emb.embed_numpy([qtext])[0]]
        exact = {r.vec_id for r in vector_search(emb_tbl, qv, k=K, vector_col="embedding", id_col="vec_id").collect()}
        for name, n_probe in systems.items():
            got = {r.vec_id for r in ivf.search(qv, k=K, n_probe=n_probe).collect()}
            overlaps[name].append(len(got & exact) / K)
        got = {r.vec_id for r in lsh.search(qv, k=K).collect()}
        overlaps["lsh (4x4-bit tables)"].append(len(got & exact) / K)
        got = {r.vec_id for r in PQ.adc_topk(encoded, pq_model, qv, k=K, id_col="vec_id").collect()}
        overlaps["pq_adc (16x6-bit)"].append(len(got & exact) / K)
        hidx, _ = hnsw.search(_np.asarray(qv), K)
        overlaps["hnsw (m=16, efC=64, efS=64)"].append(
            len(set(hnsw_ids[hidx].tolist()) & exact) / K
        )
        got = {r.vec_id for r in hnsw_idx.search(qv, k=K).collect()}
        overlaps["hnsw index (8 segments, served)"].append(len(got & exact) / K)

    lines = [
        "",
        "## ANN recall vs exact (round 14)",
        "",
        f"Mean overlap of each approximate serving path's top-{K} with the",
        f"EXACT cosine top-{K}, over the same {len(queries)} queries — the",
        "pure index-approximation cost, no task ambiguity in the way.",
        "IVF numLists=4 (the engine's registered config; nProbe=4 probes",
        "every list, so its 1.000 row is the built-in exactness check).",
        "",
        "| system | recall@10 vs exact |",
        "|---|---|",
    ]
    for name, vals in overlaps.items():
        lines.append(f"| {name} | {sum(vals) / len(vals):.3f} |")
        print(lines[-1], file=_sys.stderr)
    lines += [
        "",
        "Reading: the IVF multi-probe curve is the tunable recall/cost",
        "trade (each probe adds ~1/numLists of the corpus to the scan);",
        "LSH recall reflects 4 tables x 16 buckets on a 64-dim space —",
        "raise `tables` (or lower `bits`) to buy recall with scan width;",
        "PQ-ADC's gap is the quantization cost its exact-rerank tier",
        "(pq_rerank above) recovers; the hnsw row is the pure-numpy",
        "graph kernel (operators/hnsw.py) at the reference's",
        "m=16/efConstruction=64 — hnswlib slots into the same factory",
        "where the native extra is installed.",
    ]
    return lines


if __name__ == "__main__":
    main()
