"""The ADS-B workloads: dashboard refresh under trickle writes, and ingest.

Both drive the engine only through ``AdsbEngine``, ``read_json_lines``
and ``operators.latest.stride_sample``, and check what they read or wrote
with DuckDB over the parquet the engine left on disk.
"""

from __future__ import annotations

import calendar
import math
import os
import random
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timedelta

from perfbench import gen, spans

T0 = datetime(2026, 3, 10, 12, 0, 0)
STRIDE_REGIONAL = 4
STRIDE_TRACK = 10
# seconds per freshness window, as the views' recency filters use them
FRESH = {"local": 15, "regional": 60, "global_stream": 300, "global_opensky": 300, "combined": 300}
STATE_TTL_S = 3600


def _epoch(dt: datetime) -> int:
    return calendar.timegm(dt.timetuple())


# -- reading the store from outside the engine ----------------------------------


def _parquet_files(path: str) -> list[str]:
    """Every data file a Spark reader would see: hidden and ``_``-prefixed
    entries (staging, displaced dirs, pointers) are skipped."""
    out = []
    for d, dirs, files in os.walk(path):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        out += [os.path.join(d, f) for f in files if f.endswith(".parquet") and not f.startswith(("_", "."))]
    return sorted(out)


def _state_files(path: str) -> list[str]:
    with open(os.path.join(path, "_CURRENT")) as f:
        return _parquet_files(os.path.join(path, f.read().strip()))


class Store:
    """Paths of one engine store, and DuckDB queries over them."""

    def __init__(self, base: str, con):
        self.base = base
        self.con = con

    def history(self, src: str) -> str:
        return os.path.join(self.base, src, "history")

    def state(self, src: str) -> str:
        return os.path.join(self.base, src, "state")

    @staticmethod
    def _read(files: list[str]) -> str:
        quoted = ", ".join(f"'{f}'" for f in files)
        return f"read_parquet([{quoted}], union_by_name=true)"

    def _scan(self, files: list[str]) -> str:
        if not files:
            return "(SELECT NULL::VARCHAR AS icao24, NULL::BIGINT AS ts, NULL::DOUBLE AS ground_speed WHERE false)"
        return f"(SELECT icao24, epoch(scrape_time)::BIGINT AS ts, ground_speed FROM {self._read(files)})"

    def count(self, files: list[str], where: str = "true") -> int:
        return self.con.execute(f"SELECT count(*) FROM {self._scan(files)} WHERE {where}").fetchone()[0]

    def shape(self, sources) -> dict[str, float]:
        """Store shape by listing the directories, not through the engine."""
        hist_files = sum(len(_parquet_files(self.history(s))) for s in sources)
        batch_dirs = sum(
            1
            for s in sources
            for d, dirs, _ in os.walk(self.history(s))
            for x in dirs
            if x.startswith("batch_id=")
        )
        snapshots = sum(
            1
            for s in (*sources, "combined")
            if os.path.isdir(self.state(s))
            for x in os.listdir(self.state(s))
            if x.startswith("v_")
        )
        files = [f for s in (*sources, "combined") for f in _parquet_files(os.path.join(self.base, s))]
        n_bytes = sum(os.path.getsize(f) for f in files)
        n_rows = self.con.execute(f"SELECT count(*) FROM {self._read(files)}").fetchone()[0]
        return {
            "store.history_files": hist_files,
            "store.history_batch_dirs": batch_dirs,
            "store.state_snapshots": snapshots,
            "store.bytes_per_row": n_bytes / max(1, n_rows),
        }


def _duckdb(run_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute("SET memory_limit='1GB'")
    con.execute(f"SET temp_directory='{os.path.join(run_dir, 'duckdb')}'")
    return con


# -- tracing hooks ----------------------------------------------------------------


def _wrap_layers(tracer) -> None:
    """Spans around the engine's public layer calls. ``IngestPipeline`` and
    ``AdsbEngine`` call ``plans.tables`` through the module attribute, so
    wrapping the attribute catches every call."""
    from adsb_clickhouse_spark.engine import AdsbEngine
    from adsb_clickhouse_spark.plans import tables
    from adsb_clickhouse_spark.streaming.pipeline import IngestPipeline

    tracer.wrap(tables, "append_history", "tables.append_history")
    tracer.wrap(
        tables,
        "upsert_state",
        lambda batch, path, **kw: "tables.upsert_combined" if os.sep + "combined" + os.sep in path else "tables.upsert_state",
    )
    tracer.wrap(tables, "read_history", "tables.read_history")
    tracer.wrap(tables, "read_state", "tables.read_state")
    tracer.wrap(tables, "expire_history", "tables.expire_history")
    tracer.wrap(tables, "compact_partition", "tables.compact_partition")
    tracer.wrap(IngestPipeline, "process_batch", "pipeline.process_batch")
    tracer.wrap(AdsbEngine, "register_views", "engine.register_views")
    tracer.wrap(AdsbEngine, "run_maintenance", "engine.run_maintenance")


# -- adsb_dashboard -----------------------------------------------------------------


def _panels(spark, eng, now: datetime) -> dict:
    """The six panels: name -> function building the panel's DataFrame."""
    from adsb_clickhouse_spark.operators.latest import stride_sample

    return {
        "geomap_global": lambda: eng.current_positions("global_stream"),
        "nearest_local": lambda: eng.nearest_aircraft(),
        "regional_stride": lambda: stride_sample(spark.table("positions_regional_latest"), STRIDE_REGIONAL, ["icao24"]),
        "combined_map": lambda: spark.sql(
            "SELECT icao24, lat, lon, alt_baro, ground_speed, source FROM positions_global_combined_latest"
        ),
        "history_track": lambda: eng.trajectory(time_from=now - timedelta(hours=1), time_to=now, stride=STRIDE_TRACK),
        "table_stats": lambda: eng.table_stats(),
    }


def _expected_panels(store: Store, now: datetime) -> dict:
    t = _epoch(now)

    def fresh(src: str) -> str:
        return f"ts > {t - FRESH[src]}"

    local_track = store.count(_parquet_files(store.history("local")), f"ts BETWEEN {t - 3600} AND {t}")
    return {
        "geomap_global": store.count(_state_files(store.state("global_stream")), fresh("global_stream") + " AND ground_speed > 0"),
        "nearest_local": store.count(_state_files(store.state("local")), fresh("local")),
        "regional_stride": math.ceil(store.count(_state_files(store.state("regional")), fresh("regional")) / STRIDE_REGIONAL),
        "combined_map": store.count(_state_files(store.state("combined")), fresh("combined")),
        "history_track": math.ceil(local_track / STRIDE_TRACK),
    }


def _check_stats(store: Store, rows) -> list[str]:
    problems = []
    got = {(r["table"], r["kind"]): r["rows"] for r in rows}
    for src in ("local", "regional", "global_stream", "global_opensky"):
        want_h = store.count(_parquet_files(store.history(src)))
        want_s = store.count(_state_files(store.state(src))) if os.path.isdir(store.state(src)) else 0
        if got.get((f"positions_{src}", "history")) != want_h or got.get((f"positions_{src}", "state")) != want_s:
            problems.append(f"table_stats {src}: engine {got.get((f'positions_{src}', 'history'))}/{got.get((f'positions_{src}', 'state'))}, duckdb {want_h}/{want_s}")
    return problems


def _refresh(ctx, eng, now: datetime, workers: int) -> dict:
    """register_views, then the six panels concurrently, each timed as a
    plan build and an execute span. Returns each panel's rows."""
    eng.register_views()
    parent = ctx.tracer.current() if ctx.tracer else None

    def run(name, build):
        with ctx.span(f"panel.{name}", parent):
            with ctx.span(f"panel.{name}.build"):
                df = build()
            with ctx.span(f"panel.{name}.exec"):
                return df.collect()

    with ThreadPoolExecutor(max_workers=workers) as pool:
        futs = {n: pool.submit(run, n, b) for n, b in _panels(ctx.spark, eng, now).items()}
        return {n: f.result() for n, f in futs.items()}


def _check_refresh(store: Store, now: datetime, rows: dict, marker: str | None) -> list[str]:
    problems = []
    for name, want in _expected_panels(store, now).items():
        if len(rows[name]) != want:
            problems.append(f"{name} at {now}: {len(rows[name])} rows, duckdb {want}")
    problems += _check_stats(store, rows["table_stats"])
    if marker is not None and not any(r["Callsign"] == marker for r in rows["nearest_local"]):
        problems.append(f"trickle batch {marker} not visible in nearest_local")
    return problems


def _write_lines(path: str, lines: list[str]) -> str:
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    return path


def prepare_dashboard(seed: int, run_dir) -> dict:
    """Scraper files for the store's history and for the trickle."""
    from adsb_clickhouse_spark.config import SOURCES

    rng = random.Random(seed)
    inputs = run_dir / "inputs"
    inputs.mkdir(parents=True)
    # history: two local batches and one regional and global_stream batch
    # over three days (plus a global_stream day past its 30-day TTL), so
    # maintenance expires one day and compacts the closed local days
    day = timedelta(days=1)
    fleets = {
        "local": gen.Fleet(rng, 500, "l"),
        "regional": gen.Fleet(rng, 2000, "r"),
        "global_stream": gen.Fleet(rng, 6000, "g"),
    }
    backfill = [
        ("local", [(T0 - 2 * day, range(0, 250)), (T0 - day, range(0, 250)), (T0 - timedelta(seconds=40), range(0, 250)), (T0 - timedelta(seconds=20), range(0, 250))]),
        ("local", [(T0 - 2 * day + timedelta(hours=1), range(250, 500)), (T0 - day + timedelta(hours=1), range(250, 500)), (T0 - timedelta(seconds=30), range(250, 500)), (T0 - timedelta(seconds=10), range(250, 500))]),
        ("regional", [(T0 - 2 * day, range(2000)), (T0 - day, range(2000)), (T0 - timedelta(seconds=50), range(2000)), (T0 - timedelta(seconds=25), range(2000))]),
        ("global_stream", [(T0 - 40 * day, range(1000)), (T0 - day, range(6000)), (T0 - timedelta(seconds=90), range(6000))]),
    ]
    files = []
    for i, (src, slices) in enumerate(backfill):
        rows = [r for ts, idx in slices for r in fleets[src].rows(SOURCES[src], ts, idx)]
        lines, _ = gen.adsb_batch(SOURCES[src], rows, T0)
        files.append((src, _write_lines(str(inputs / f"backfill{i}.json"), lines)))

    # trickle: 1,000-row local batches, two scrapes each, 2 s apart (the
    # local feed's flush interval); one aircraft carries a marker callsign
    local_fleet = gen.Fleet(rng, 490, "t")
    trickles = []
    for c in range(16):
        now = T0 + timedelta(seconds=2 * (c + 1))
        marker = f"vis{c:06d}"
        rows = local_fleet.rows(SOURCES["local"], now - timedelta(seconds=1), range(490))
        rows += local_fleet.rows(SOURCES["local"], now, range(489))
        rows += local_fleet.rows(SOURCES["local"], now, range(489, 490), callsign=marker)
        lines, n_valid = gen.adsb_batch(SOURCES["local"], rows, now)
        trickles.append((now, marker, n_valid, _write_lines(str(inputs / f"trickle{c}.json"), lines)))
    return {"backfill": files, "trickles": trickles}


def run_dashboard(ctx, inputs: dict) -> dict:
    from adsb_clickhouse_spark.config import SOURCES
    from adsb_clickhouse_spark.engine import AdsbEngine
    from adsb_clickhouse_spark.sources.json_source import read_json_lines

    spark, tracer = ctx.spark, ctx.tracer
    base = str(ctx.run_dir / "store")
    con = _duckdb(str(ctx.run_dir))
    store = Store(base, con)
    workers = int(os.environ["SPARK_GRAFT_CPUS"])
    files, trickles = inputs["backfill"], inputs["trickles"]
    if tracer:
        _wrap_layers(tracer)

    for src, path in files:
        AdsbEngine(spark, base, now=T0).ingest_batch(src, read_json_lines(spark, path, SOURCES[src]))
    t = time.perf_counter()
    maint = AdsbEngine(spark, base, now=T0).run_maintenance()
    maintenance_s = time.perf_counter() - t
    problems = []
    if not any(m["expired"] for m in maint.values()) or not maint["local"]["compacted"]:
        problems.append(f"maintenance did no work: {maint}")

    def cycle(c: int) -> tuple[float, float, float, list[str]]:
        now, marker, n_valid, path = trickles[c]
        eng = AdsbEngine(spark, base, now=now)
        t0 = time.perf_counter()
        with ctx.span("op.write"):
            eng.ingest_batch("local", read_json_lines(spark, path, SOURCES["local"]))
        t1 = time.perf_counter()
        with ctx.span("op.read"):
            rows = _refresh(ctx, eng, now, workers)
        t2 = time.perf_counter()
        return t1 - t0, t2 - t1, n_valid, _check_refresh(store, now, rows, marker)

    # warm-up: one untimed, checked cycle compiles every panel's plans
    if tracer:
        tracer.op_id = -1
    problems += cycle(0)[3]
    ctx.setup_done()

    refresh, visible, busy, rows_in, ops = [], [], 0.0, 0, {}
    attempted = failed = 0
    c = 1
    while busy < ctx.seconds and c < len(trickles):
        if tracer:
            tracer.op_id = c
        a = time.time()
        w, r, n_valid, cycle_problems = cycle(c)
        ops[c] = (a, a + w + r)
        attempted += 1
        if cycle_problems:
            failed += 1
            problems += cycle_problems
        refresh.append(r)
        visible.append(w + r)  # the first refresh after the write must see it
        busy += w + r
        rows_in += n_valid
        if tracer:
            tracer.collect_spark()
        c += 1

    out = {
        "ops": refresh,
        "visible": visible,
        "rows": rows_in,
        "busy_s": busy,
        "attempted": attempted,
        "failed": failed,
        "problems": problems,
        "named": {
            "refresh_p50_s": (statistics.median(refresh), "s"),
            "refresh_tail_s": (max(refresh), "s"),
            "freshness_p50_s": (statistics.median(visible), "s"),
            "freshness_tail_s": (max(visible), "s"),
            "trickle_rows_per_s": (rows_in / busy, "1/s"),
        },
    }
    if tracer:
        tracer.unwrap_all()
        extra = store.shape(("local", "regional", "global_stream"))
        extra["engine.run_maintenance_s"] = maintenance_s
        out["layers"], out["layer_named"] = spans.report(tracer, ops, extra)
        out["tracer"] = tracer
    con.close()
    return out


# -- adsb_ingest ----------------------------------------------------------------------

# the reference's per-source flush caps (rows per batch)
INGEST_ROWS = {"local": 1000, "regional": 20000, "global_stream": 12000, "global_opensky": 12000}


def _check_ingest(store: Store, src: str, n_hist: int, now: datetime) -> list[str]:
    problems = []
    hist = _parquet_files(store.history(src))
    if store.count(hist) != n_hist:
        problems.append(f"{src} history has {store.count(hist)} rows, generated {n_hist} valid")
    t = _epoch(now)
    for state, sources in ((store.state(src), (src,)), (store.state("combined"), tuple(INGEST_ROWS))):
        all_hist = [f for s in sources for f in _parquet_files(store.history(s))]
        diff = store.con.execute(
            f"""WITH want AS (SELECT icao24, max(ts) AS ts FROM {store._scan(all_hist)}
                              GROUP BY icao24 HAVING max(ts) > {t - STATE_TTL_S}),
                     got AS (SELECT icao24, ts FROM {store._scan(_state_files(state))})
                SELECT (SELECT count(*) FROM (SELECT * FROM want EXCEPT SELECT * FROM got))
                     + (SELECT count(*) FROM (SELECT * FROM got EXCEPT SELECT * FROM want))"""
        ).fetchone()[0]
        if diff:
            problems.append(f"{state}: {diff} keys differ from the argmax over history")
    return problems


def prepare_ingest(seed: int, run_dir) -> list:
    """Scraper files rotating through the four sources at their flush
    caps. Scrape times advance 5 s per batch; the first two batches are
    one and two days back, so history spans three days."""
    from adsb_clickhouse_spark.config import SOURCES

    rng = random.Random(seed)
    inputs = run_dir / "inputs"
    inputs.mkdir(parents=True)
    fleets = {s: gen.Fleet(rng, n // 2, s[0] + "x") for s, n in INGEST_ROWS.items()}
    batches = []
    for b in range(12):
        src = list(INGEST_ROWS)[b % 4]
        now = T0 + timedelta(seconds=5 * b) - (timedelta(days=2 - b) if b < 2 else timedelta(0))
        fleet = fleets[src]
        rows = fleet.rows(SOURCES[src], now - timedelta(seconds=2), range(len(fleet.icao)))
        rows += fleet.rows(SOURCES[src], now, range(len(fleet.icao)))
        lines, n_valid = gen.adsb_batch(SOURCES[src], rows, now)
        batches.append((src, now, n_valid, _write_lines(str(inputs / f"b{b}.json"), lines)))
    return batches


def run_ingest(ctx, batches: list) -> dict:
    from adsb_clickhouse_spark.config import SOURCES
    from adsb_clickhouse_spark.engine import AdsbEngine
    from adsb_clickhouse_spark.sources.json_source import read_json_lines

    spark, tracer = ctx.spark, ctx.tracer
    base = str(ctx.run_dir / "store")
    con = _duckdb(str(ctx.run_dir))
    store = Store(base, con)
    if tracer:
        _wrap_layers(tracer)

    hist_rows = dict.fromkeys(INGEST_ROWS, 0)
    problems: list[str] = []

    def step(b: int) -> tuple[float, list[str]]:
        src, now, n_valid, path = batches[b]
        t0 = time.perf_counter()
        with ctx.span("op.write"):
            AdsbEngine(spark, base, now=now).ingest_batch(src, read_json_lines(spark, path, SOURCES[src]))
        dt = time.perf_counter() - t0
        hist_rows[src] += n_valid
        return dt, _check_ingest(store, src, hist_rows[src], now)

    # warm-up: one batch per source
    for b in range(4):
        if tracer:
            tracer.op_id = -1 - b
        problems += step(b)[1]
    ctx.setup_done()

    lat, busy, rows_in, ops = [], 0.0, 0, {}
    attempted = failed = 0
    b = 4
    while busy < ctx.seconds and b < len(batches):
        if tracer:
            tracer.op_id = b
        a = time.time()
        dt, batch_problems = step(b)
        ops[b] = (a, a + dt)
        attempted += 1
        if batch_problems:
            failed += 1
            problems += batch_problems
        lat.append(dt)
        busy += dt
        rows_in += batches[b][2]
        if tracer:
            tracer.collect_spark()
        b += 1

    out = {
        "ops": lat,
        "visible": lat,
        "rows": rows_in,
        "busy_s": busy,
        "attempted": attempted,
        "failed": failed,
        "problems": problems,
        "named": {
            "ingest_rows_per_s": (rows_in / busy, "1/s"),
            "ingest_batch_p50_s": (statistics.median(lat), "s"),
            "ingest_batch_tail_s": (max(lat), "s"),
        },
    }
    if tracer:
        tracer.unwrap_all()
        out["layers"], out["layer_named"] = spans.report(tracer, ops, store.shape(tuple(INGEST_ROWS)))
        out["tracer"] = tracer
    con.close()
    return out
