#!/usr/bin/env python
"""One-off stage profile of pipe_curate_corpus' honest (cold-cache)
build: times each constituent frame to a noop sink with caches reset
first, so the 11s build seen in the per-query breakdown is attributed to a
stage. Diagnostic only (r12)."""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from covid_engineering_spark.session import get_spark
    from covid_engineering_spark.functions import caching
    from covid_engineering_spark.sources import read_table
    from covid_engineering_spark.operators.dedup import (
        ngram_jaccard_pairs,
        shingles_of,
    )
    from covid_engineering_spark.operators.pipeline import (
        connected_components,
    )
    from covid_engineering_spark.operators.text import (
        normalize,
        quality_score_col,
    )
    from pyspark.sql import Window

    spark = get_spark(app_name="profile-curate", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    def mat(df):
        df.write.mode("overwrite").format("noop").save()

    def surv_frame():
        docs = read_table(spark, sf_dir, "documents", fan=True)
        nd = normalize(docs)
        min_id = F.min("doc_id").over(Window.partitionBy("content_hash"))
        return (
            nd.select(
                "doc_id",
                "content_hash",
                "norm_text",
                quality_score_col("text").alias("quality_score"),
            )
            .withColumn("_canon_id", min_id)
            .filter(F.col("doc_id") == F.col("_canon_id"))
            .select("doc_id", "norm_text", "quality_score")
        )

    stages = {
        "surv (normalize+quality+dedup window)": lambda: surv_frame(),
        "shingles(surv)": lambda: shingles_of(
            surv_frame().select("doc_id", F.col("norm_text").alias("text"))
        ),
        "jaccard_pairs(surv)": lambda: ngram_jaccard_pairs(
            surv_frame().select("doc_id", F.col("norm_text").alias("text"))
        ),
    }
    for name, fn in stages.items():
        for it in (1, 2):
            caching.reset()
            spark.sparkContext.setJobDescription(f"profile:{name}#{it}")
            t0 = time.perf_counter()
            mat(fn())
            print(f"{name} [{it}]: {time.perf_counter() - t0:.3f}s", flush=True)

    # CC on top of pairs (the full chain minus retention/split)
    for it in (1, 2):
        caching.reset()
        spark.sparkContext.setJobDescription(f"profile:cc#{it}")
        t0 = time.perf_counter()
        pairs = ngram_jaccard_pairs(
            surv_frame().select("doc_id", F.col("norm_text").alias("text"))
        )
        cc = connected_components(pairs)
        t1 = time.perf_counter()
        mat(cc)
        print(
            f"cc build [{it}]: {t1 - t0:.3f}s  exec: "
            f"{time.perf_counter() - t1:.3f}s",
            flush=True,
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
