"""Empirical scale check: replicate sf0.1 N-fold into /tmp and time the
shuffle-heavy operators, reporting the wall-clock ratio vs the 1x run.

The bench answers "how fast at sf0.1"; this answers "what happens to each
operator when the data grows Nx with the same cluster" — the cheap local
proxy for the 100 TB question. Ratios well under N mean the operator is
still overhead-dominated at this size; ratios near or above N on a
linear-work operator mean a scale cliff (skewed key, quadratic candidate
set, driver collect) worth investigating.

Usage: python tools/scale_probe.py [N] [op ...]   (default 8, all ops)
Prints one JSON line: {"factor": N, "ops": {name: {"t1": s, "tN": s,
"ratio": r}}}. Naming ops runs only those (cheap targeted re-probes at
high factors).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = "/root/testdata/sf0.1"
WORK = "/tmp/vsai_scale_probe"


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    only = set(sys.argv[2:])

    from pyspark.sql import functions as F

    from vector_search_ai_assistant_mongodbvcore_spark import get_spark
    from vector_search_ai_assistant_mongodbvcore_spark.operators import dedup as DD
    from vector_search_ai_assistant_mongodbvcore_spark.operators.ivf import IvfIndex
    from vector_search_ai_assistant_mongodbvcore_spark.operators.similarity import (
        LshIndex,
        knn_brute_force,
    )

    spark = get_spark(app_name="scale-probe")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warmup

    def replicate(name: str, id_col: str):
        src = spark.read.parquet(os.path.join(BASE, f"{name}.parquet"))
        out = None
        for i in range(factor):
            d = src.withColumn(id_col, F.col(id_col) + F.lit(i * 10_000_000))
            out = d if out is None else out.unionByName(d)
        path = os.path.join(WORK, name)
        out.repartition(32).write.mode("overwrite").parquet(path)
        return src, spark.read.parquet(path)

    shutil.rmtree(WORK, ignore_errors=True)
    # fixture groups build lazily: a targeted re-probe of one docs op
    # must not pay the 64x embeddings/events replication
    _DOC_OPS = {
        "exact_dedup", "bm25_score", "bm25_index_build", "bm25_index_search",
        "chunking", "minhash_band_pairs", "ngram_jaccard", "decontam",
        "pack_sequences", "dsir_weights", "vocab_top", "domain_audit",
        "cap_per_source", "remove_spans",
        "mask_contam", "bpe_encode",
        "component_dedup", "export_bylang", "export_bylang_serial",
        "kmv_distinct", "dq_contract", "top_frequent",
    }
    _EV_OPS = {"asof_attribution"}
    _VEC_OPS = {
        "ann_topk_exact", "knn_matmul", "ivf_build", "lsh_build", "lsh_search",
        "semdedup", "semantic_contam", "pq_encode", "pq_adc_topk",
    }
    unknown = only - _DOC_OPS - _EV_OPS - _VEC_OPS
    if unknown:
        raise SystemExit(f"unknown ops: {sorted(unknown)}")
    need_docs = not only or bool(only & _DOC_OPS)
    need_ev = not only or bool(only & _EV_OPS)
    need_vec = not only or bool(only & _VEC_OPS)
    docs1 = docsN = emb1 = embN = ev1 = evN = None
    if need_docs:
        docs1, docsN = replicate("documents", "doc_id")
    if need_vec:
        emb1, embN = replicate("embeddings", "vec_id")
    # events: ids offset per copy but user_ids kept — every user gets N×
    # the history, the worst case for the per-key as-of window
    if need_ev:
        ev1, evN = replicate("events", "event_id")

    def timed(fn) -> float:
        t0 = time.time()
        fn()
        return round(time.time() - t0, 2)

    from vector_search_ai_assistant_mongodbvcore_spark.operators import keyword_search as KW
    from vector_search_ai_assistant_mongodbvcore_spark.operators.asof import asof_join
    from vector_search_ai_assistant_mongodbvcore_spark.operators.chunking import chunk_documents

    ops = {
        "exact_dedup": lambda d: DD.exact_dedup(d).write.format("noop").mode("overwrite").save(),
        "bm25_score": lambda d: KW.bm25_scores(d, ["spark", "hash", "join", "scan"])
        .write.format("noop").mode("overwrite").save(),
        "bm25_index_build": lambda d: KW.Bm25Index(
            spark, os.path.join(WORK, f"bm25_{d is docsN}")
        ).build(d, n_buckets=64),
        # serving path on the index built above (dict order guarantees it)
        "bm25_index_search": lambda d: KW.Bm25Index(
            spark, os.path.join(WORK, f"bm25_{d is docsN}")
        ).search(["spark", "hash", "join", "scan"], k=10)
        .write.format("noop").mode("overwrite").save(),
        "chunking": lambda d: chunk_documents(d, size=32, overlap=8)
        .write.format("noop").mode("overwrite").save(),
        "minhash_band_pairs": lambda d: DD.minhash_lsh_pairs(d, "text", "doc_id", 16, 4, 5)
        .write.format("noop").mode("overwrite").save(),
        # the component keep policy end to end: pair generation -> the
        # iterative min-propagation (replication makes every doc a
        # 64-member clique at 64x — the dense-component worst case; the
        # loop converges in O(log diameter) rounds) -> the anti-join
        # disk-backed CC checkpointing: at high factors the symmetric
        # edge list is ~N^2/2 rows per family — memory-pinned
        # localCheckpoint OOMs where the parquet round-trip streams
        "component_dedup": lambda d: DD.drop_component_duplicates(
            d, DD.minhash_lsh_pairs(d, "text", "doc_id", 16, 4, 5),
            checkpoint_dir=os.path.join(WORK, "cc_ckpt"),
        ).write.format("noop").mode("overwrite").save(),
        "ngram_jaccard": lambda d: DD.ngram_jaccard_pairs(d, "text", "doc_id", 3, 0.5, df_cut=20)
        .write.format("noop").mode("overwrite").save(),
        # benchmark side stays FIXED (docs1-derived) while the corpus grows
        # Nx — the realistic shape: eval sets don't scale with the corpus
        "decontam": lambda d: _decontam(d)
        .write.format("noop").mode("overwrite").save(),
        # surgical decontamination: same fixed-benchmark asymmetry as
        # decontam, plus the per-doc covered-position rollup of
        # remove_spans — replication multiplies hit occurrences Nx
        "mask_contam": lambda d: remove_contaminated_spans(d, bench_docs, n=5)
        .write.format("noop").mode("overwrite").save(),
        "pack_sequences": lambda d: pack_sequences(
            d.select("doc_id", F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_tokens")),
            seq_len=128,
            group_size=4096,
        ).write.format("noop").mode("overwrite").save(),
        # target stays FIXED (docs1-derived) while the raw corpus grows Nx —
        # DSIR's realistic shape (the target domain sample is curated, small)
        "dsir_weights": lambda d: importance_weights(
            d, bench_docs.select("text"), num_buckets=10_000
        ).select("doc_id", "logw").write.format("noop").mode("overwrite").save(),
        "vocab_top": lambda d: top_vocab(d, k=200)
        .write.format("noop").mode("overwrite").save(),
        # replication keeps `source` values, so every domain gets Nx docs —
        # the hot-group worst case for both the audit and the cap
        "domain_audit": lambda d: domain_audit(d)
        .write.format("noop").mode("overwrite").save(),
        "cap_per_source": lambda d: cap_per_group(
            d, "source", n=100, presample=True
        ).write.format("noop").mode("overwrite").save(),
        # replication multiplies every n-gram's occurrence count Nx — the
        # worst case for the per-ngram min aggregate AND the per-doc
        # covered-position rollup (every copy's spans are duplicated)
        "remove_spans": lambda d: DD.remove_duplicated_spans(d, "text", "doc_id", n=5)
        .write.format("noop").mode("overwrite").save(),
        # model trained ONCE on the 1x corpus (frozen, like PQ codebooks);
        # encoding pays the distinct-term UDF + broadcast join + per-doc
        # reassembly — replication grows occurrences Nx but distinct terms
        # stay ~flat, the asymmetry the join-back trick exists for
        "bpe_encode": lambda d: bpe_encode_corpus(d, bpe_model)
        .select("doc_id", F.size("input_ids").alias("n"))
        .write.format("noop").mode("overwrite").save(),
        # per-language partitioned export (r11 directive #1's skew fix):
        # the corpus is ~44% English, so the serial twin (files_per_lang=1
        # — one shuffle key per language, the pre-r12 write shape) funnels
        # the dominant language through ONE task while the salted default
        # fans it across 8; the tN gap between the two ops is the fix's
        # measured value at pressure. Model fit ONCE on the 1x corpus
        # (frozen, like the BPE/PQ models); export_language_partitioned's
        # counts read-back is part of the measured work (it is part of
        # the operator's contract).
        "export_bylang": lambda d: export_language_partitioned(
            d, export_lang_model, os.path.join(WORK, f"bylang_{d is docsN}"),
            salt_col="doc_id",
        ).collect(),
        "export_bylang_serial": lambda d: export_language_partitioned(
            d, export_lang_model, os.path.join(WORK, f"bylangs_{d is docsN}"),
            salt_col="doc_id", files_per_lang=1,
        ).collect(),
        # replication offsets doc_id per copy, so the distinct set grows
        # ~Nx while the sketch's exchange stays <= P*k rows — the probe
        # should stay far under linear (the scan is the only Nx work)
        "kmv_distinct": lambda d: kmv_distinct(d, "doc_id", k=256)
        .write.format("noop").mode("overwrite").save(),
        # replication keeps source values, so per-item counts grow ~Nx
        # over a CONSTANT distinct set — the heavy-hitter regime; both
        # passes are scans with <= P*k / broadcast-sized exchanges, so
        # the probe should track the two scans and stay near linear
        "top_frequent": lambda d: top_frequent(d, "source", topn=10, k=256)
        .write.format("noop").mode("overwrite").save(),
        # the whole multi-constraint contract is ONE map-combined agg
        # scan — cost must track the scan, not the constraint count
        "dq_contract": lambda d: check(
            d,
            [
                dq_completeness("text", 1.0),
                dq_uniqueness("doc_id", 1.0),
                dq_compliance("n_chars >= 10", 0.5),
                dq_row_count(1, None),
                dq_mean_between("n_chars", 0.0, 1e9),
            ],
        ).write.format("noop").mode("overwrite").save(),
    }

    from vector_search_ai_assistant_mongodbvcore_spark.operators.contracts import (
        check,
    )
    from vector_search_ai_assistant_mongodbvcore_spark.operators.contracts import (
        completeness as dq_completeness,
    )
    from vector_search_ai_assistant_mongodbvcore_spark.operators.contracts import (
        compliance as dq_compliance,
    )
    from vector_search_ai_assistant_mongodbvcore_spark.operators.contracts import (
        mean_between as dq_mean_between,
    )
    from vector_search_ai_assistant_mongodbvcore_spark.operators.contracts import (
        row_count as dq_row_count,
    )
    from vector_search_ai_assistant_mongodbvcore_spark.operators.contracts import (
        uniqueness as dq_uniqueness,
    )
    from vector_search_ai_assistant_mongodbvcore_spark.operators.decontam import (
        contamination_report,
        remove_contaminated_spans,
        semantic_contamination,
    )
    from vector_search_ai_assistant_mongodbvcore_spark.operators.sketches import (
        kmv_distinct,
        top_frequent,
    )
    from vector_search_ai_assistant_mongodbvcore_spark.operators.dsir import importance_weights
    from vector_search_ai_assistant_mongodbvcore_spark.operators.packing import pack_sequences
    from vector_search_ai_assistant_mongodbvcore_spark.operators.profile import domain_audit
    from vector_search_ai_assistant_mongodbvcore_spark.operators.splits import cap_per_group
    from vector_search_ai_assistant_mongodbvcore_spark.operators.vocab import top_vocab

    from vector_search_ai_assistant_mongodbvcore_spark.operators.vocab import (
        bpe_encode_corpus,
        learn_bpe,
    )

    bench_docs = docs1.filter(F.col("doc_id") % 17 == 0) if docs1 is not None else None
    needs_bpe = not only or "bpe_encode" in only
    bpe_model = (
        learn_bpe(docs1, num_merges=100, max_terms=10_000)
        if docs1 is not None and needs_bpe
        else None
    )
    from vector_search_ai_assistant_mongodbvcore_spark.operators.export import (
        export_language_partitioned,
    )
    from vector_search_ai_assistant_mongodbvcore_spark.operators.language_id import (
        fit_language_id,
    )

    needs_export = not only or bool(only & {"export_bylang", "export_bylang_serial"})
    export_lang_model = (
        fit_language_id(docs1, dims=2048, ngram_range=(8, 12), max_fit_rows=2000)
        if docs1 is not None and needs_export
        else None
    )

    def _decontam(d):
        return contamination_report(d, bench_docs, n=5)
    from vector_search_ai_assistant_mongodbvcore_spark.operators.vector_search import (
        vector_search,
    )

    vec_ops = {
        "ann_topk_exact": lambda e: vector_search(
            e, [0.1] * 64, k=10, vector_col="embedding", id_col="vec_id"
        ).write.format("noop").mode("overwrite").save(),
        "knn_matmul": lambda e: knn_brute_force(e, [[0.1] * 64] * 4, k=5)
        .write.format("noop").mode("overwrite").save(),
        "ivf_build": lambda e: IvfIndex(spark, os.path.join(WORK, f"ivf_{e is embN}")).build(
            e, vector_col="embedding", num_lists=8, seed=42
        ),
        "lsh_build": lambda e: LshIndex(spark, os.path.join(WORK, f"lsh_{e is embN}")).build(
            e, dims=64, bits=6, tables=4, vector_col="embedding", id_col="vec_id"
        ),
        # serving path: partition-pruned candidate read on the index built
        # by lsh_build above (dict order guarantees the build ran)
        "lsh_search": lambda e: LshIndex(spark, os.path.join(WORK, f"lsh_{e is embN}"))
        .search([0.1] * 64, k=10).write.format("noop").mode("overwrite").save(),
        "semdedup": lambda e: semantic_duplicates(
            e, eps=0.97, k=8, max_cluster=50_000
        ).write.format("noop").mode("overwrite").save(),
        # benchmark embedding set FIXED (emb1-derived) while the corpus
        # grows Nx — same asymmetry as decontam, in embedding space
        "semantic_contam": lambda e: semantic_contamination(
            e, bench_emb, threshold=0.9
        ).write.format("noop").mode("overwrite").save(),
        # codebooks fit ONCE on the 1x table (frozen, like IVF centroids);
        # encode is a narrow Arrow pass, ADC is codes-scan + TakeOrdered
        "pq_encode": lambda e: encode_pq(e, pq_model)
        .write.format("noop").mode("overwrite").save(),
        "pq_adc_topk": lambda e: adc_topk(encode_pq(e, pq_model), pq_model, [0.1] * 64, k=10)
        .write.format("noop").mode("overwrite").save(),
    }
    bench_emb = emb1.filter(F.col("vec_id") % 29 == 0) if emb1 is not None else None
    from vector_search_ai_assistant_mongodbvcore_spark.operators.pq import (
        adc_topk,
        encode_pq,
        fit_pq,
    )

    needs_pq = not only or bool(only & {"pq_encode", "pq_adc_topk"})
    pq_model = (
        fit_pq(emb1, m=8, bits=6, seed=42, iters=10)
        if emb1 is not None and needs_pq
        else None
    )
    from vector_search_ai_assistant_mongodbvcore_spark.operators.semdedup import (
        semantic_duplicates,
    )

    def asof_attr(e):
        purchases = e.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts", "value"
        )
        views = (
            e.filter(F.col("event_type") == "view")
            .groupBy("user_id", "ts")
            .agg(F.max("event_id").alias("view_id"))
        )
        asof_join(purchases, views, on="ts", by="user_id", right_cols=["view_id"]) \
            .write.format("noop").mode("overwrite").save()

    ev_ops = {"asof_attribution": asof_attr}

    report = {}
    for name, fn in ops.items():
        if only and name not in only:
            continue
        fn(docs1)  # warm codegen/JIT for this op so t1 isn't cold-run noise
        t1, tN = timed(lambda: fn(docs1)), timed(lambda: fn(docsN))
        report[name] = {"t1": t1, "tN": tN, "ratio": round(tN / max(t1, 1e-9), 2)}
    for name, fn in ev_ops.items():
        if only and name not in only:
            continue
        fn(ev1)
        t1, tN = timed(lambda: fn(ev1)), timed(lambda: fn(evN))
        report[name] = {"t1": t1, "tN": tN, "ratio": round(tN / max(t1, 1e-9), 2)}
    for name, fn in vec_ops.items():
        if only and name not in only:
            continue
        fn(emb1)
        t1, tN = timed(lambda: fn(emb1)), timed(lambda: fn(embN))
        report[name] = {"t1": t1, "tN": tN, "ratio": round(tN / max(t1, 1e-9), 2)}

    print(json.dumps({"factor": factor, "ops": report}))
    shutil.rmtree(WORK, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
