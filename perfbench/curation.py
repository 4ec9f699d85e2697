"""The streaming curation workload: ``CurationIngest.process_batch`` with
every store on, each batch followed by one ``search`` probe.

Checks: each batch's ``ingest_log`` row balances (documents in = admitted
+ drops per gate), the probe finds the batch's probe documents, and at the
end no injected exact duplicate is in ``curated``.
"""

from __future__ import annotations

import statistics
import time

from perfbench import gen, spans

BATCH_DOCS = 1000
WARMUP_DOCS = 200
GATES = (
    "policy",
    "host",
    "exact_text",
    "exact_media",
    "store_dup",
    "text_near_batch",
    "text_near_store",
    "media_near_batch",
    "media_near_store",
)


def _ingest(base: str):
    """The all-stores configuration: text and media near-dedup, text and
    vector indexes, host edges."""
    from adsb_clickhouse_spark.streaming.curation import CurationIngest

    return CurationIngest(
        base,
        run_id="perfbench",
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


def _check_ledger(row, n_in: int) -> list[str]:
    drops = sum(row[f"dropped_{g}"] for g in GATES)
    if row["rows_in"] != n_in or row["rows_in"] != row["admitted"] + drops:
        return [f"batch {row['batch_id']}: ledger {row['rows_in']} in != {row['admitted']} admitted + {drops} dropped (sent {n_in})"]
    return []


def prepare_funnel(seed: int, run_dir) -> list[dict]:
    """A small warm-up batch, then full batches."""
    corpus = gen.Corpus(seed)
    return [corpus.batch(b, WARMUP_DOCS if b == 0 else BATCH_DOCS) for b in range(8)]


def run_funnel(ctx, batches: list[dict]) -> dict:
    from pyspark.sql import functions as F

    from adsb_clickhouse_spark.streaming.curation import CurationIngest

    spark, tracer = ctx.spark, ctx.tracer
    frames = [spark.createDataFrame(b["rows"], gen.DOC_SCHEMA) for b in batches]
    ing = _ingest(str(ctx.run_dir / "store"))
    if tracer:
        tracer.wrap(CurationIngest, "process_batch", "curation.process_batch")
        tracer.wrap(CurationIngest, "search", "curation.search")

    problems: list[str] = []
    stage_walls: list[dict] = []

    def step(b: int) -> tuple[float, float, list[str]]:
        t0 = time.perf_counter()
        with ctx.span("op.write"):
            ing.process_batch(frames[b], batch_id=b)
        t1 = time.perf_counter()
        with ctx.span("op.read"):
            hits = ing.search(spark, batches[b]["probe"], k=10).collect()
        t2 = time.perf_counter()
        stage_walls.append(dict(ing.last_stage_wall))
        found = {r["doc_id"] for r in hits}
        bad = [] if found and found <= batches[b]["probe_ids"] else [f"batch {b}: probe found {sorted(found)}"]
        return t1 - t0, t2 - t0, bad

    # warm-up: the first batch compiles every stage's plans
    if tracer:
        tracer.op_id = -1
    problems += step(0)[2]
    ctx.setup_done()

    lat, visible, busy, docs, ops = [], [], 0.0, 0, {}
    attempted = failed = 0
    b = 1
    while busy < ctx.seconds and b < len(batches):
        if tracer:
            tracer.op_id = b
        a = time.time()
        dt, vis, bad = step(b)
        ops[b] = (a, a + vis)
        attempted += 1
        if bad:
            failed += 1
            problems += bad
        lat.append(dt)
        visible.append(vis)
        busy += vis
        docs += BATCH_DOCS
        if tracer:
            tracer.collect_spark()
        b += 1
    n_batches = b

    # output checks, after the timed loop
    log = {int(r["batch_id"].rsplit("-", 1)[1]): r for r in ing.ingest_log(spark).collect()}
    for i in range(n_batches):
        ledger = _check_ledger(log[i], len(batches[i]["rows"])) if i in log else [f"batch {i}: no ingest_log row"]
        if ledger:
            problems += ledger
            failed += i > 0
    # a copy of an earlier batch's document must go if that document stayed
    store_sources = {c: s for bt in batches[:n_batches] for c, s in bt["exact_store_sources"].items()}
    watch = [d for bt in batches[:n_batches] for d in bt["exact_dup_ids"]] + list(store_sources) + list(store_sources.values())
    curated = {r["doc_id"] for r in ing.curated(spark).filter(F.col("doc_id").isin(watch)).select("doc_id").collect()}
    leaked = [d for bt in batches[:n_batches] for d in bt["exact_dup_ids"] if d in curated]
    leaked += [c for c, s in store_sources.items() if c in curated and s in curated]
    if leaked:
        problems.append(f"injected exact duplicates survived: {sorted(leaked)}")
        failed += 1

    out = {
        "ops": lat,
        "visible": visible,
        "rows": docs,
        "busy_s": busy,
        "attempted": attempted,
        "failed": min(failed, attempted),
        "problems": problems,
        "named": {
            "curation_docs_per_s": (docs / busy, "1/s"),
            "curation_batch_p50_s": (statistics.median(lat), "s"),
            "curation_batch_tail_s": (max(lat), "s"),
        },
    }
    if tracer:
        tracer.unwrap_all()
        timed = stage_walls[1:]
        extra = {}
        for stage in sorted({s for w in timed for s in w}):
            extra[f"curation.stage.{stage}_s"] = statistics.fmean(w.get(stage, 0.0) for w in timed)
        rows_in = sum(r["rows_in"] for r in log.values())
        for g in GATES:
            extra[f"curation.drop_frac.{g}"] = sum(r[f"dropped_{g}"] for r in log.values()) / rows_in
        for store, n in ing.live_segment_counts().items():
            extra[f"curation.segments.{store}"] = n
        out["layers"], out["layer_named"] = spans.report(tracer, ops, extra)
        out["tracer"] = tracer
    return out
