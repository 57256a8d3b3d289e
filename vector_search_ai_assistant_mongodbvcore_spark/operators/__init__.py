"""Operator layer: the engine's public query surface (SURVEY.md §2 + the
extended LLM-training-pipeline inventory in §8).

Reference surface:
vector_search.py   — exact top-k cosine search + RAG payload assembly (V1/V2/P1/P2/A1)
ivf.py             — IVF index: driver k-means build, centroid-pruned/multi-probe search,
                     int8 + product-quantization (IVF-PQ) storage, incremental
                     add/remove with frozen centroids (V4/V5)
partitioned_ann.py — per-partition local ANN (hnswlib kernel env-gated) (V3)
conversation.py    — running-token-sum history window + chronological re-sort (W1-W3)
prompt_budget.py   — token-budgeted proportional prompt trim (F5/F6/A5)
sessions.py        — session/message CRUD over the mutable-table layer (S3-S7, F7/F8)
chat.py            — the full chat-turn lifecycle (§3.1)
rerank.py          — pluggable rerank stage, retrieval-order RRF fusion

Training-data pipeline:
dedup.py           — exact / minhash-LSH / simhash / ngram-jaccard dedup,
                     connected components, duplicated-substring signal + APPLY
semdedup.py        — SemDeDup semantic dedup (clustered embedding space)
similarity.py      — kNN join, exact pairs, LSH ANN + materialized LshIndex
decontam.py        — benchmark decontamination: n-gram AND embedding-space
dsir.py            — DSIR importance resampling (hashed n-gram bucket LMs)
quality_classifier.py — learned linear quality scorer, literals-inlined serving
lm_quality.py      — CCNet-style bigram-LM perplexity signal
pipeline.py        — prepare_training_corpus: the composed corpus-prep flow
splits.py          — splits (hash/stratified/leakage-safe), mixture + curriculum
                     planning, deterministic sampling/shuffles, per-source caps
vocab.py           — term stats, coverage, BPE merge ranking + full BPE training
packing.py         — sequence packing via two-level distributed prefix sums
export.py          — token-id materialization, sharded + curriculum export
profile.py         — column profiles, domain audit, tokenizer fertility
pq.py              — product quantization: codebook fit, encode, ADC top-k
kmeans.py          — the one k-means (ivf, topics, pq): driver fit on a hashed sample
keyword_search.py  — BM25 + incremental Bm25Index + indexed hybrid RRF retrieval
asof.py            — as-of join (time-sliced against hot keys)
chunking.py        — RAG document chunking (word/token units, carry columns)
topics.py          — k-means topic clustering (driver fit, codegen assignment)
eval.py            — retrieval metrics (recall@k / MRR / nDCG)
"""
