#!/usr/bin/env python
"""Per-member profile of the fused t_text_profile query (VERDICT r4 #6).

t_text_profile fuses SEVEN per-doc metric families into one scan (the
50-row-cap consolidation); at sf1 it is the suite's heaviest query (~21 s).
This script times (a) the full fused plan and (b) each member family in
isolation over the SAME corpus — each isolated variant re-stages only the
intermediate projections that member needs — so the BASELINE.md note can
say which member drives the cost and whether the single-scan fusion still
beats seven separate scans at 10x data.

Usage:
    python bench.py --replicate 10 --out /tmp/sf1     # once
    SPARK_GRAFT_SF_DIR=/tmp/sf1 python scripts/profile_text_profile.py
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)
os.environ["PYTHONPATH"] = REPO_ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
from tablestructurerec_spark.session import default_cpus  # noqa: E402

CPUS = default_cpus()


def main() -> None:
    from pyspark.sql import functions as F

    from tablestructurerec_spark.operators.profile import (
        _NGRAM_LANGS,
        _pii_augmented,
        fingerprint_col,
        lang_id_cols,
        lang_ngram_pred_col,
        lang_ngram_score_cols,
        padded_col,
        pii_metric_cols,
        q_text_profile,
        quality_cols,
        rep_augmented,
        rep_bigrams_col,
        rep_sents_col,
        repetition_metric_cols,
        token_count_cols,
        tokens_col,
    )
    from tablestructurerec_spark.session import get_spark
    from tablestructurerec_spark.sources.read import read_table

    spark = get_spark(app="tsr-profile-text", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    def member_frames():
        docs = read_table(spark, SF_DIR, "documents")
        text, doc_id = F.col("text"), F.col("doc_id")
        toks = docs.select("doc_id", tokens_col(text).alias("toks"), "text")
        yield "token_count", toks.select(
            "doc_id", *token_count_cols(F.col("toks"), F.col("text"))
        )
        yield "lang_id", docs.select("doc_id", *lang_id_cols(text))
        ng = docs.select("doc_id", padded_col(text).alias("ng_p")).select(
            "doc_id", *lang_ngram_score_cols(F.col("ng_p"))
        )
        yield "lang_ngram", ng.select(
            "doc_id",
            *[F.col(f"ng_{lang}") for lang in _NGRAM_LANGS],
            lang_ngram_pred_col(),
        )
        yield "quality", toks.select(
            "doc_id", *quality_cols(F.col("toks"), F.col("text"))
        )
        yield "fingerprint", docs.select("doc_id", fingerprint_col(text))
        yield "pii", docs.select(
            "doc_id", _pii_augmented(text, doc_id).alias("aug")
        ).select("doc_id", *pii_metric_cols(F.col("aug")))
        rep = docs.select(
            "doc_id", rep_augmented(text, doc_id).alias("rep_text")
        ).select(
            "doc_id",
            tokens_col(F.col("rep_text")).alias("rep_toks"),
            rep_sents_col(F.col("rep_text")).alias("sents"),
        ).select(
            "doc_id", "rep_toks", "sents",
            rep_bigrams_col(F.col("rep_toks")).alias("bigrams"),
        )
        yield "repetition", rep.select(
            "doc_id",
            *repetition_metric_cols(
                F.col("rep_toks"), F.col("sents"), F.col("bigrams")
            ),
        )

    def timed(df) -> float:
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        return round(best, 3)

    result = {"sf_dir": SF_DIR, "cpus": CPUS, "members": {}}
    # the fused plan includes the presentation orderBy like the bench does
    result["fused"] = timed(q_text_profile(spark, SF_DIR))
    for name, df in member_frames():
        result["members"][name] = timed(df)
    result["members_sum"] = round(sum(result["members"].values()), 3)
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
