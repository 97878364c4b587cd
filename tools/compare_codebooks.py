"""Compare the k-means codebooks that two checkouts of this repo train.

    python tools/compare_codebooks.py OLD_ROOT NEW_ROOT SF_DIR [SF_DIR ...]

For each SF_DIR, each checkout trains the three codebooks the registered
queries use, on `embeddings` as the queries load it:

- ``ivf_k16``: `ivf.kmeans_fit` with k=16 (similarity_ivf, _ivf_pruned);
- ``sem_k<K>``: `ivf.kmeans_fit` with k=`dedup._SEM_K` (dedup_semantic);
- ``pq_m8k16``: `pq.pq_train` with m=8, ksub=16 (similarity_pq, _pq_pruned).

Each checkout runs in its own Python process (its own package on
sys.path, its own local Spark session). Centroids travel as
`float.hex` strings, so "identical" means bit for bit. Prints one line
per (sf, codebook) with the centroid count, the training time of each
side and the verdict; exits 1 if any codebook differs.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time


def dump(root: str, sf_dir: str) -> dict:
    """Train the three codebooks with the package under ``root``."""
    sys.path.insert(0, root)
    from pyspark.sql import functions as F

    from etl_knlp_spark.catalog import load_table
    from etl_knlp_spark.functions.vector import as_double
    from etl_knlp_spark.operators.dedup import _SEM_K
    from etl_knlp_spark.operators.ivf import kmeans_fit
    from etl_knlp_spark.operators.pq import pq_train
    from etl_knlp_spark.session import get_spark

    spark = get_spark("compare_codebooks", cpus=2)
    vectors = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("emb")
    )
    cases = {
        "ivf_k16": lambda: kmeans_fit(spark, vectors, k=16),
        f"sem_k{_SEM_K}": lambda: kmeans_fit(spark, vectors, k=_SEM_K),
        "pq_m8k16": lambda: pq_train(spark, vectors, m=8, ksub=16),
    }
    out = {}
    for name, train in cases.items():
        t0 = time.perf_counter()
        rows = train().collect()
        secs = time.perf_counter() - t0
        book = sorted(
            [[r[c] for c in r.__fields__ if c != "centroid"], [x.hex() for x in r["centroid"]]]
            for r in rows
        )
        out[name] = {"secs": secs, "book": book}
    spark.stop()
    return out


def main() -> int:
    if sys.argv[1:2] == ["--dump"]:
        print(json.dumps(dump(sys.argv[2], sys.argv[3])))
        return 0
    old_root, new_root, *sf_dirs = sys.argv[1:]
    differ = 0
    for sf_dir in sf_dirs:
        sides = []
        for root in (old_root, new_root):
            res = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--dump", root, sf_dir],
                capture_output=True, text=True, check=True, cwd=root,
            )
            sides.append(json.loads(res.stdout.strip().splitlines()[-1]))
        old, new = sides
        for name in old:
            same = old[name]["book"] == new[name]["book"]
            differ += not same
            print(
                f"{os.path.basename(sf_dir)} {name}: {len(new[name]['book'])} centroids, "
                f"train {old[name]['secs']:.2f}s -> {new[name]['secs']:.2f}s, "
                f"{'bit-identical' if same else 'DIFFERENT'}"
            )
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main())
