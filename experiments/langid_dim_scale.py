"""Measure wide-DIM langid trainer cost vs DIM (VERDICT r9 ask #4's
measurement leg) and the curation langid stage-parquet footprint
(ask #7).

Part 1 -- trainer wall vs DIM: per-iteration wall of the vector-shaped
trainer (operators/langid_union.py with word_ngrams=(), the
``langid_scores_wide`` configuration) at DIM in {16, 256, 1024, 4096}
on sf0.01, split into the one-time feature pass (Arrow md5 scan) and
the per-iteration gradient pass (numpy int64 reduceat/scatter +
partial-sum collect, whose model traffic is at most |langs| x (DIM+1)
ints per partition). The narrow JVM trainer at DIM=16 is measured
alongside as the baseline.

The committed JSON was recorded with an earlier dense trainer (one
array<bigint> of length DIM+1 per doc, int64 matmuls); it followed the
same trajectory, but its timings differ from the sparse trainer's.

Part 2 -- stage parquet size: the composed curation run materializes
the langid stage as the full scores relation. Write langid_scores to
parquet at sf0.01 and sf0.1 and record bytes/doc -- confirming the
stage parquet is doc_id-sized (5 scalar columns), never feature-sized.

Usage: python experiments/langid_dim_scale.py
Writes experiments/langid_dim_scale.json; SCALE.md quotes it.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("langid-dim-scale")
        .master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from map_reduce_framework_spark.operators import langid, langid_union

    sf01 = "/root/testdata/sf0.01"
    docs = spark.read.parquet(f"{sf01}/documents.parquet")
    n_docs = docs.count()

    results: dict = {"sf": 0.01, "n_docs": n_docs, "iters": 3, "wide": []}

    # Arrow/Python-worker warmup so the first measured feature pass
    # doesn't carry daemon-fork + JIT cost (the bench.py discipline).
    langid_union.union_features(docs, 8, word_ngrams=()).count()

    # narrow JVM trainer baseline (DIM=16, the registered configuration)
    t0 = time.perf_counter()
    langid.langid_train_trace(docs, iters=3)
    results["narrow_dim16_3iters_sec"] = round(time.perf_counter() - t0, 3)

    for dim in (16, 256, 1024, 4096):
        t0 = time.perf_counter()
        feats = langid_union.union_features(
            docs, dim, word_ngrams=()
        ).persist()
        feats.count()
        feat_sec = time.perf_counter() - t0
        feats.unpersist()
        t0 = time.perf_counter()
        rows, w = langid_union.union_train_trace(
            docs, iters=3, dim=dim, word_ngrams=()
        )
        total_sec = time.perf_counter() - t0
        results["wide"].append(
            {
                "dim": dim,
                "feature_pass_sec": round(feat_sec, 3),
                "train_3iters_sec": round(total_sec, 3),
                "per_iter_sec": round((total_sec - feat_sec) / 3, 3),
                "trace_rows": len(rows),
            }
        )
        print(results["wide"][-1], flush=True)

    # Part 2: langid stage parquet footprint (scores relation) at two SFs
    results["stage_parquet"] = []
    for sf_dir, sf in ((sf01, 0.01), ("/root/testdata/sf0.1", 0.1)):
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        scores = langid.langid_scores(d)
        out = tempfile.mkdtemp(prefix="lid-stage-size-")
        scores.write.mode("overwrite").parquet(out)
        size = sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(out)
            for f in fs
            if f.endswith(".parquet")
        )
        nd = d.count()
        results["stage_parquet"].append(
            {
                "sf": sf,
                "n_docs": nd,
                "bytes": size,
                "bytes_per_doc": round(size / nd, 1),
            }
        )
        print(results["stage_parquet"][-1], flush=True)
        shutil.rmtree(out, ignore_errors=True)

    out_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "langid_dim_scale.json"
    )
    with open(out_path, "w") as fh:
        json.dump(results, fh, indent=1)
    print("wrote", out_path)


if __name__ == "__main__":
    main()
