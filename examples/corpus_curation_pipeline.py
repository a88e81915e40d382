"""Corpus curation end-to-end: the cleanup pass a training-data
pipeline runs between raw ingest and tokenization, built entirely from
this repo's operators —

  1. line-level boilerplate removal (RefinedWeb-style),
  2. asymmetric containment scan (drop docs subsumed in others),
  3. BPE tokenizer training on the cleaned corpus.

Every stage is a pure DataFrame transform with the scale notes living
in the operator modules; nothing here collects data to the driver
beyond the BPE trainer's one scalar row per merge step.

Run: PYTHONPATH=/root/repo python examples/corpus_curation_pipeline.py [sf_dir]
"""

from __future__ import annotations

import sys

from pyspark.sql import functions as F


def run(spark, sf_dir: str) -> dict:
    from rocketmq_flink_spark.operators.bpe import train_bpe
    from rocketmq_flink_spark.operators.dedup import (
        containment_pairs,
        line_dedup,
    )
    from rocketmq_flink_spark.session import load_tables

    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    out: dict = {}

    # 1. line dedup over 10-word pseudo-lines (fixture texts are
    #    single-line; a real corpus splits on '\n')
    lined = docs.select(
        "doc_id", F.split("text", " ").alias("_toks")
    ).select(
        "doc_id",
        F.expr(
            "array_join(transform("
            " sequence(0, greatest(CAST(ceil(size(_toks) / 10.0) AS INT) - 1, 0)),"
            " i -> array_join(slice(_toks, i*10 + 1, 10), ' ')), '\n')"
        ).alias("text"),
    )
    cleaned = line_dedup(lined, "doc_id", "text", min_docs=2)
    out["line_dedup_removed_lines"] = (
        cleaned.agg(F.sum("n_removed")).collect()[0][0]
    )

    # 2. containment: drop documents >= 60% contained in another
    contained = containment_pairs(
        docs, "doc_id", "text", k=5, threshold_pct=60
    ).select("contained").distinct()
    kept = docs.join(contained, docs["doc_id"] == contained["contained"],
                     "left_anti")
    out["docs_kept_after_containment"] = kept.count()

    # 3. BPE trainer on the cleaned corpus
    merges, vocab = train_bpe(
        cleaned.select(
            F.col("doc").alias("doc_id"),
            F.col("text_clean").alias("text"),
        ),
        "text",
        steps=6,
    )
    out["bpe_merges"] = [
        (r["lhs"], r["rhs"], r["pair_count"])
        for r in merges.orderBy("step").collect()
    ]
    out["post_bpe_symbols"] = vocab.agg(
        F.sum(F.size("syms") * F.col("c"))
    ).collect()[0][0]

    return out


if __name__ == "__main__":
    from rocketmq_flink_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(app_name="corpus-curation-example")
    for k, v in run(spark, sf_dir).items():
        print(f"{k}: {v}")
