#!/usr/bin/env python
"""Decompose the embedding-ingest epoch cost below stage level (judge
r13 ask #2's measurement half; the vector twin of
``epoch_cost_decompose.py``): run the sink's per-epoch work MANUALLY
— status serve, decision checkpoint, unique/survivor derivation,
index append (which skips stored ids itself) — timing each piece, plus the status
serve's own sub-components (dim probe, probe emission, candidate
scoring) as overlapping shares. r13 measured status 8.0 s / append
2.7 s of an ~11 s epoch at 10× but never went below stage level.

Usage: python tools/embedding_epoch_decompose.py [N] [k]
       (same corpus shape as embedding_sink_throughput: N× sf0.1
       replicas, k epochs, 80%-unique mix, threshold 0.999)
"""

from __future__ import annotations

import json
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from tiki_data_pipeline_spark.session import get_spark
from tools.embedding_sink_throughput import replicated_vectors

OUT = "/tmp/embedding_epoch_decomp"


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    spark = get_spark(app_name="embedding_epoch_decompose")
    shutil.rmtree(OUT, ignore_errors=True)

    from tiki_data_pipeline_spark.operators import similarity as SIM

    vecs = replicated_vectors(spark, n)
    seed = vecs.filter(F.col("vec_id") < 10_000_000)
    store = f"{OUT}/lsh_store"
    SIM.write_lsh_index(seed, store)

    stream = vecs.filter(F.col("vec_id") >= 10_000_000).withColumn(
        "_b", F.pmod(F.col("vec_id"), F.lit(k))
    )

    stages: dict[str, list[float]] = {}

    def t(key: str, fn):
        t0 = time.perf_counter()
        out = fn()
        stages.setdefault(key, []).append(time.perf_counter() - t0)
        return out

    threshold = 0.999
    for epoch in range(k):
        batch = stream.filter(F.col("_b") == epoch).drop("_b").localCheckpoint()

        # --- status serve sub-components (overlapping shares) ---
        t("sub_dim_probe", lambda: SIM._vec_dim(batch, "embedding"))
        # probe emission alone (mapInPandas → count)
        npl = SIM._store_n_planes(store, SIM.N_PLANES)
        t(
            "sub_probe_emit",
            lambda: SIM.lsh_index_near_dups(
                spark, store, batch, threshold=threshold
            ),  # plan build only (driver-side meta reads)
        )
        t(
            "sub_near_pairs_eval",
            lambda: SIM.lsh_index_near_dups(
                spark, store, batch, threshold=threshold
            )
            .write.format("noop")
            .mode("overwrite")
            .save(),
        )

        # --- the sink's actual stages ---
        status = t(
            "status_serve",
            lambda: SIM.lsh_index_dedup_status(
                spark, store, batch, threshold=threshold
            ).localCheckpoint(),
        )
        uniq = batch.join(
            status.filter(F.col("status") == "unique").select("vec_id"),
            "vec_id",
            "semi",
        )
        survivors = (
            uniq.groupBy("embedding")
            .agg(F.min("vec_id").alias("vec_id"))
            .select("vec_id")
        )
        to_add = t(
            "to_add_derive",
            lambda: uniq.join(survivors, "vec_id", "semi").localCheckpoint(),
        )
        t("append_index", lambda: SIM.append_lsh_index(to_add, store, n_planes=None))
        t("status_count", lambda: status.count())

    report = {
        "n": n,
        "k": k,
        "threshold": threshold,
        "stages_mean_s": {
            k2: round(sum(v) / len(v), 3) for k2, v in sorted(stages.items())
        },
        "stages_sum_s": {
            k2: round(sum(v), 2) for k2, v in sorted(stages.items())
        },
        "note": (
            "sub_* rows are overlapping shares of status_serve, not "
            "additive; sub_probe_emit times driver-side plan build + "
            "meta reads only"
        ),
    }
    print(json.dumps(report, indent=1))


if __name__ == "__main__":
    main()
