#!/usr/bin/env python
"""Training-data pipeline demo over the ``documents`` table: hygiene →
dedup → substring cleanup → selection → retrieval, each stage one of the
oracle-checked operators.  Run:
    PYTHONPATH=. python examples/demo_corpus_pipeline.py [sf_dir]
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("SPARK_GRAFT_CPUS", "4")

from tablestructurerec_spark.session import get_spark

if __name__ == "__main__":
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(app="demo-corpus-pipeline", cpus=4)
    spark.sparkContext.setLogLevel("ERROR")

    from tablestructurerec_spark.operators import dedup, hygiene, retrieval, sampling

    print("== corpus filter (first failing reason per doc) ==")
    hygiene.QUERIES["t_corpus_filter"](spark, sf_dir).groupBy("decision").count().show()

    print("== MinHash near-dup candidate pairs ==")
    pairs = dedup.QUERIES["dedup_minhash_lsh"](spark, sf_dir)
    print(f"candidate pairs: {pairs.count()}")

    print("== repeated-substring clusters (5 largest) ==")
    hygiene.QUERIES["t_dup_span_clusters"](spark, sf_dir).orderBy(
        "n_members", ascending=False
    ).show(5)

    print("== boilerplate stripped (docs modified) ==")
    stripped = hygiene.QUERIES["t_strip_repeated"](spark, sf_dir)
    print(f"modified: {stripped.where('removed_chars > 0').count()}")

    print("== per-language rate sample ==")
    sampling.QUERIES["t_stratified_sample"](spark, sf_dir).groupBy("lang").count().show()

    print("== hybrid (BM25 + vector RRF) top-3 per query ==")
    retrieval.QUERIES["t_hybrid_rrf"](spark, sf_dir).where("rank <= 3").show(12)

    from tablestructurerec_spark.operators import similarity, temporal

    print("== contrastive triplets (5 widest margins) ==")
    similarity.QUERIES["t_triplet_mine"](spark, sf_dir).orderBy(
        "margin", ascending=False
    ).show(5)

    print("== adaptive per-source length filter (kept fraction) ==")
    kept = hygiene.QUERIES["t_adaptive_filter"](spark, sf_dir).count()
    print(f"kept {kept} docs above their source's p25")

    print("== event funnel stages ==")
    temporal.QUERIES["t_event_funnel"](spark, sf_dir).groupBy("stage").count().show()

    print("== DSIR importance weights (target=en slice; keep fraction) ==")
    dsir = sampling.q_dsir_weights(spark, sf_dir)
    dsir.groupBy("keep_target").count().show()

    print("== n-gram language ID vs the lang label (confusion counts) ==")
    from tablestructurerec_spark.operators.textstats import q_lang_id_ngram

    q_lang_id_ngram(spark, sf_dir).groupBy("pred_lang_ngram").count().show()

    print("== SemDeDup: semantic dup verdicts per cluster ==")
    from tablestructurerec_spark.operators.semdedup import q_semdedup

    q_semdedup(spark, sf_dir).groupBy("is_dup").count().show()

    print("== CCNet perplexity buckets per language ==")
    from tablestructurerec_spark.operators.ccnet import q_ccnet_buckets

    q_ccnet_buckets(spark, sf_dir).groupBy("lang", "bucket").count().orderBy(
        "lang", "bucket"
    ).show()

    print("== learned BPE table: corpus token totals ==")
    from tablestructurerec_spark.operators.bpe_train import (
        q_bpe_learned_token_count,
    )

    q_bpe_learned_token_count(spark, sf_dir).agg(
        {"n_bpe_tokens": "sum"}
    ).show()

    print("== quality-policy dedup: keepers that are NOT the min doc_id ==")
    from tablestructurerec_spark.operators.dedup import q_dedup_keep_best

    kb = q_dedup_keep_best(spark, sf_dir)
    kb.where("keep = 1 AND doc_id <> component").count()
    kb.groupBy("keep").count().show()

    print("== Zipf head: top terms, coverage, slope ==")
    from tablestructurerec_spark.operators.zipf import q_zipf_stats

    q_zipf_stats(spark, sf_dir).show(10)

    print("== PQ ANN top-10 (32x-compressed codes + exact re-rank) ==")
    from tablestructurerec_spark.operators.pq import q_ann_pq_topk

    q_ann_pq_topk(spark, sf_dir).show()

    print("== fused selection pipeline: CCNet x NB-verdict agreement ==")
    from tablestructurerec_spark.operators.selection import q_selection_pipeline

    q_selection_pipeline(spark, sf_dir).groupBy("ppl_bucket", "pred_head").count(
    ).orderBy("ppl_bucket", "pred_head").show()

    print("== fused ops audit (one row per metric family) ==")
    from tablestructurerec_spark.operators.opsaudit import q_ops_audit

    q_ops_audit(spark, sf_dir).groupBy(
        "metric"
    ).count().orderBy("metric").show(20)

    spark.stop()
