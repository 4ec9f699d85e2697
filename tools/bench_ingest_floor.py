"""Attribute (and then cut) the per-batch FLOOR of the all-stores
streaming curation ingest (r11 verdict item 2).

The all-stores soak proved per-batch latency is FLAT as the stores grow
— this probe explains what the flat floor is MADE OF. It runs the
all-stores configuration (text+media band dedup, text index, vector
index via the hashed embedder, host edges, observability) at two batch
sizes and prints the per-stage wall decomposition that
``CurationIngest.last_stage_wall`` records around every Spark action in
the batch:

- stages whose wall is ~equal at 5k and 50k docs are FIXED floor
  (job scheduling, parquet commit, store metadata reads);
- stages that scale with the batch are honest work.

Usage: python tools/bench_ingest_floor.py [small] [big] [k]
Defaults: 5_000 / 50_000 docs, k=3 batches per size (median reported).
Prints one JSON line; headline rows live in README's measured scale
behavior table.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

# import the package (and bench.py) from THIS repo regardless of the
# caller's cwd — the same r12-advice fix as check_plan_fingerprints.py
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _batches(spark, lo: int, n: int):
    """Unique pairwise-random docs with payload + host columns — the
    all-stores input shape (a shared text template would band-match
    everything; see the soak fixture's note)."""
    from pyspark.sql import functions as F

    words = F.concat_ws(
        " ",
        *[
            F.md5(F.concat(F.col("id").cast("string"), F.lit(f"|w{j}")))
            for j in range(14)
        ],
    )
    return spark.range(lo, lo + n).select(
        F.col("id").alias("doc_id"),
        words.alias("text"),
        F.md5(F.col("id").cast("string")).cast("binary").alias("payload"),
        F.concat(F.lit("h"), (F.col("id") % 7).cast("string")).alias("host"),
        F.array(
            F.concat(F.lit("h"), ((F.col("id") + 1) % 7).cast("string"))
        ).alias("out_links"),
    )


def _all_stores_ingest(base: str, **overrides):
    from adsb_clickhouse_spark.streaming.curation import CurationIngest

    kwargs = dict(
        run_id="floor",
        media_dedup=True,
        media_near_dedup=True,
        text_near_dedup=True,
        text_index=True,
        vector_index=True,
        embed_dim=16,
        vector_n_lists=4,
        host_col="host",
        host_links_col="out_links",
    )
    kwargs.update(overrides)
    return CurationIngest(base, **kwargs)


def _funnel_fp_run(spark, prefix: str, *, n: int, batches: int, **overrides) -> dict:
    """One fixed-shape all-stores ingest with the ``plan_probe`` hook
    installed for the last batch; per-stage fingerprints under
    ``<prefix>:<stage>`` keys."""
    import shutil as _sh
    import tempfile as _tmp

    from adsb_clickhouse_spark.plans.fingerprint import plan_fingerprint

    base = _tmp.mkdtemp(prefix="funnelfp_")
    try:
        ing = _all_stores_ingest(base, **overrides)
        for b in range(batches - 1):
            ing.process_batch(_batches(spark, b * n, n), batch_id=b)
            if b == 0:
                # fold the rank dimension once so the host broadcast
                # gate participates in the fingerprinted plans
                ing.recompute_host_ranks(spark)
        fps: dict = {}
        ing.plan_probe = lambda stage, df: fps.setdefault(
            f"{prefix}:{stage}", plan_fingerprint(df)
        )
        ing.process_batch(
            _batches(spark, (batches - 1) * n, n), batch_id=batches - 1
        )
        return fps
    finally:
        _sh.rmtree(base, ignore_errors=True)


def funnel_fingerprints(
    spark, *, n: int = 200, batches: int = 3, variants: bool = True
) -> dict:
    """Normalized plan fingerprints of every funnel stage of the
    all-stores streaming ingest (r12 verdict item 3): the per-stage
    plans the last three rounds' real bugs lived in (exponential
    analysis, recacheByPath loss, AQE tap pruning) were timing/soak-
    guarded but not fingerprint-diffed like the registry rows.

    Runs ``batches-1`` warm-up batches so the store-probe plans exist
    (fingerprint anti-join, band-store probes, host-rank broadcast —
    ``recompute_host_ranks`` is run after batch 0 so the broadcast rank
    gate is IN the fingerprinted plan), then installs the
    ``CurationIngest.plan_probe`` hook for the last batch and records
    each stage's pre-execution physical plan under ``funnel:<stage>``
    keys. bench.py merges these into PLANS_r{N}.json so the same
    cross-round diff covers them; deterministic because the batch
    shape, store state, and configuration are fixed.

    ``variants`` (r13 verdict item 6) additionally pins the two
    CONFIG-variant plan families the default run cannot see:

    - ``funnel_k32:<stage>`` — the tighter text band law (k=32 /
      bands=8, the operating point tools/bench_text_bands.py --k32
      measures): the band count shapes the near-dedup stages' plans
      structurally (8 band columns instead of 4);
    - ``funnel_media8:<stage>`` — media_bands=8: the same for the
      phash banding stages."""
    fps = _funnel_fp_run(spark, "funnel", n=n, batches=batches)
    if variants:
        fps.update(
            _funnel_fp_run(
                spark, "funnel_k32", n=n, batches=batches,
                text_minhash_k=32, text_bands=8,
            )
        )
        fps.update(
            _funnel_fp_run(
                spark, "funnel_media8", n=n, batches=batches, media_bands=8,
            )
        )
    return fps


def _run_size(spark, n: int, k: int) -> dict:
    base = tempfile.mkdtemp(prefix=f"floor_{n}_")
    try:
        ing = _all_stores_ingest(base)
        total: list[float] = []
        stage_runs: dict[str, list[float]] = {}
        for b in range(k + 1):  # +1 untimed warmup batch (plan JIT)
            t0 = time.perf_counter()
            ing.process_batch(_batches(spark, b * n, n), batch_id=b)
            wall = time.perf_counter() - t0
            if b == 0:
                continue
            total.append(round(wall, 2))
            for s, v in ing.last_stage_wall.items():
                stage_runs.setdefault(s, []).append(v)
        return {
            "batch_docs": n,
            "total_sec": total,
            "total_median": round(statistics.median(total), 2),
            "stages": {
                s: round(statistics.median(v), 2)
                for s, v in sorted(stage_runs.items())
            },
        }
    finally:
        shutil.rmtree(base, ignore_errors=True)


def main() -> int:
    argv = sys.argv[1:]
    small = int(argv[0]) if len(argv) > 0 else 5_000
    big = int(argv[1]) if len(argv) > 1 else 50_000
    k = int(argv[2]) if len(argv) > 2 else 3

    from adsb_clickhouse_spark.session import get_spark

    spark = get_spark("ingest-floor")
    spark.sparkContext.setLogLevel("ERROR")
    out = {"runs": [_run_size(spark, small, k), _run_size(spark, big, k)]}
    # clean-box anchor for the bench's MV-cascade ingest headline (r12
    # verdict item 7): the exact measurement bench.py reports, run here
    # solo so the figure has a quiet-box twin next to the stage
    # decomposition (same fixed corpus, same stores)
    from bench import measure_ingest_rate

    out["mv_cascade_ingest"] = measure_ingest_rate(spark)
    # fixed-floor estimate per stage: the wall that did NOT move with a
    # 10x batch (min of the two medians is the floor upper bound)
    s_small = out["runs"][0]["stages"]
    s_big = out["runs"][1]["stages"]
    out["fixed_floor_est"] = {
        s: min(s_small[s], s_big.get(s, s_small[s]))
        for s in s_small
    }
    # the total must not double-count: store_appends_total SPANS the six
    # per-append walls (which also OVERLAP each other), so the
    # elapsed-wall total sums the section once and skips the per-append
    # members it contains
    append_members = {
        s for s in out["fixed_floor_est"] if s.endswith("_append")
    }
    skip = (
        append_members
        if "store_appends_total" in out["fixed_floor_est"]
        else set()
    )
    out["fixed_floor_total_est"] = round(
        sum(v for s, v in out["fixed_floor_est"].items() if s not in skip),
        2,
    )
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
