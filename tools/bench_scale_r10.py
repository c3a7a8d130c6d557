"""Scale-up evidence for the r10–r13 key families (VERDICT r10
item 7, r11 item 6, r12 item 9): run the ACTUAL registered keys at 1×
and 10×.

Unlike `bench_scale.py` (which re-states flagship plan SHAPES over
replicated DataFrames), this harness materializes a replicated
testdata directory once — facts replicated executor-side with keys
shifted per replica so cohorts, edge-build fan-in, the embedding
corpus, and the event stream genuinely grow by the factor while the
bounded dims (nation, supplier) stay fixed — and calls the REGISTERED
key functions on it. That validates the cached-edge-list,
ordered-fold, and bounded-collect claims off-SF on the same code path
the gate checks.

    python tools/bench_scale_r10.py [sf_dir] [factor] [r10|r11|r12|r13|all]

`run_scaled_keys(spark, sf_dir, which, factor)` is the one runner; the
CLI and bench.py (the `scale10_r10` … `scale10_r13` extras) both call it.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# The registered keys each round's scale claims rest on, by round tag.
KEYS = {
    # graph community loops, survival curves, LTV cohorts
    "r10": [
        "graph_label_propagation",
        "graph_lpa_modularity",
        "graph_kcore_decomposition",
        "graph_hits_scores",
        "survival_kaplan_meier",
        "survival_median_landmarks",
        "cohort_ltv_curves",
    ],
    # r11 families whose bounded-collect claims get validated off-SF
    # (VERDICT r11 item 6): 10× embeddings grows the Gram/kNN builds,
    # 10× events grows the Markov session fan-in, 10× customer grows
    # the bootstrap population.
    "r11": [
        "sim_bitext_margin_knn",
        "emb_pca_power_iteration",
        "events_markov_attribution",
        "eval_bootstrap_ci_hash",
    ],
    # r12 heavy keys (VERDICT r12 item 9): the keys the r12
    # optimization round rebuilt — their §2.5 "fan-out is a no-op at
    # scale" and cache-size claims were argued from threshold
    # arithmetic, not measured. 10× customer grows the FS pair fan,
    # 10× orders/lineitem the Yannakakis semijoin program, 10×
    # documents the CDC/simhash/Burrows corpora; plus the mid-tier keys
    # whose scale posture was asserted only at sf0.1 (VERDICT item 3).
    "r12": [
        "er_fellegi_sunter_weights",
        "join_yannakakis_program",
        "docs_cdc_chunk_dedup",
        "text_simhash_hamming_prod",
        "text_burrows_delta",
        "eval_conformal_interval",
        "vocab_good_turing_counts",
        "eval_isotonic_calibration",
    ],
    # r13 keys: the bucketed merge-count rank statistics (10× lineitem
    # grows the quantity/price pairs) and IVF-PQ search (10× embeddings
    # grows the coded corpus)
    "r13": [
        "agg_corr_kendall_tau",
        "agg_corr_concordance_stats",
        "sim_ann_ivfpq_search",
    ],
}

_SHIFT = 10_000_000


def _src_fingerprint(sf_dir: str) -> str:
    """Content fingerprint of the source testdata (name/size/mtime of
    every parquet file) so a regenerated testdata dir invalidates the
    replicated cache instead of silently reusing stale parquet."""
    parts = []
    for name in sorted(os.listdir(sf_dir)):
        p = os.path.join(sf_dir, name)
        files = [p]
        if os.path.isdir(p):
            files = sorted(
                os.path.join(dp, f)
                for dp, _, fs in os.walk(p)
                for f in fs
            )
        for f in files:
            if not f.endswith(".parquet"):
                continue
            st = os.stat(f)
            parts.append(
                f"{os.path.relpath(f, sf_dir)}:{st.st_size}:{int(st.st_mtime)}"
            )
    return hashlib.md5("\n".join(parts).encode()).hexdigest()


def _materialize_scaled(spark, sf_dir: str, factor: int) -> str:
    """Write the replicated testdata dir (once per sf/factor/content)."""
    from pyspark.sql import functions as F

    out = os.path.join(
        REPO,
        ".scale10_r10",
        os.path.basename(sf_dir.rstrip("/")) + f"_x{factor}",
    )
    done = os.path.join(out, "_DONE")
    fp = _src_fingerprint(sf_dir)
    if os.path.exists(done):
        try:
            if open(done).read().strip() == fp:
                return out
        except OSError:
            pass
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)

    def rep(df, shifts):
        df = df.withColumn(
            "rep", F.explode(F.sequence(F.lit(0), F.lit(factor - 1)))
        )
        for col in shifts:
            df = df.withColumn(col, F.col(col) + F.col("rep") * _SHIFT)
        return df.drop("rep")

    def load(name):
        return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))

    # replicated facts: keys shifted per replica so cohorts (custkey),
    # the edge-build fan-in (orderkey), the embedding corpus (vec_id),
    # and the event stream (event_id/user_id sessions) genuinely
    # multiply; dims (nation, supplier) stay bounded, so graph node
    # count stays 25
    rep(load("customer"), ["c_custkey"]).write.parquet(
        os.path.join(out, "customer.parquet")
    )
    rep(load("orders"), ["o_orderkey", "o_custkey"]).write.parquet(
        os.path.join(out, "orders.parquet")
    )
    rep(load("lineitem"), ["l_orderkey"]).write.parquet(
        os.path.join(out, "lineitem.parquet")
    )
    rep(load("embeddings"), ["vec_id"]).write.parquet(
        os.path.join(out, "embeddings.parquet")
    )
    rep(load("events"), ["event_id", "user_id"]).write.parquet(
        os.path.join(out, "events.parquet")
    )
    rep(load("documents"), ["doc_id"]).write.parquet(
        os.path.join(out, "documents.parquet")
    )
    for name in ("nation", "region", "supplier", "part"):
        load(name).write.parquet(os.path.join(out, f"{name}.parquet"))
    open(done, "w").write(fp + "\n")
    return out


def run_scaled_keys(spark, sf_dir: str, which: str, factor: int = 10) -> dict:
    """Time each key of round `which` (a `KEYS` tag, or `all` of
    them) once at 1× and once at `factor`× and record the ratio."""
    from target_s3_parquet_spark.operators._util import release_rank_caches
    from target_s3_parquet_spark.registry import get_queries

    keys = sum(KEYS.values(), []) if which == "all" else KEYS[which]
    queries = get_queries()
    scaled = _materialize_scaled(spark, sf_dir, factor)
    out: dict = {"factor": factor}
    for key in keys:
        fn = queries[key]
        times = {}
        for tag, d in (("1x", sf_dir), (f"{factor}x", scaled)):
            t0 = time.time()
            fn(spark, d).count()
            times[tag] = round(time.time() - t0, 3)
            spark.catalog.clearCache()
            release_rank_caches()
        out[f"{key}_1x_sec"] = times["1x"]
        out[f"{key}_{factor}x_sec"] = times[f"{factor}x"]
        out[f"{key}_ratio"] = round(
            times[f"{factor}x"] / max(times["1x"], 1e-9), 2
        )
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    factor = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    which = sys.argv[3] if len(sys.argv) > 3 else "r10"

    from target_s3_parquet_spark.session import get_spark

    spark = get_spark("bench_scale_r10")
    print(json.dumps(run_scaled_keys(spark, sf_dir, which, factor)))


if __name__ == "__main__":
    main()
