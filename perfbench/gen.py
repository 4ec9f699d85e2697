"""Seeded input generators. The same seed gives the same inputs.

ADS-B: newline-JSON scraper batches shaped by each source's column
contract (``config.SOURCES``), with malformed lines and the FIXTURES.md §6
edge rows (``sources.fixtures.edge_rows``: null keys, bad coordinates,
late arrivals, stale rows). Curation: documents from a word vocabulary
with a stated share of injected exact and near duplicates.
"""

from __future__ import annotations

import json
import random
from datetime import datetime

MALFORMED = ['{"hex": "broken", "lat": ', "not json at all", '{"hex": 5, "lat": [1,2}']


def _valid(cfg, row: dict) -> bool:
    """The cleansing MV's WHERE clause: key present, coordinates present
    and in range."""
    lat, lon = row.get("lat"), row.get("lon")
    return (
        row.get(cfg.raw_key) is not None
        and lat is not None
        and lon is not None
        and -90 <= lat <= 90
        and -180 <= lon <= 180
    )


def _maker(kind: str, raw: str):
    """A generator of one raw column's values, by transform kind, or
    ``None`` for a kind left null."""
    def pick(opts):
        return lambda rng: opts[int(rng.random() * len(opts))]

    if kind in ("id_norm", "id_norm_upper", "str"):
        return pick([None] + [f"{raw}_{i}" for i in range(50)])
    if kind == "alt_baro_mixed":
        return pick([None, "ground"] + [str(a) for a in range(0, 45000, 500)])
    if kind in ("i32", "spi_int_bool", "position_source_enum"):
        return pick([None, 0, 1, 2, 3])
    if kind in ("f32", "f32_zero", "f64", "ms_to_kn", "ms_to_fpm", "m_to_ft", "opensky_alt_baro"):
        return lambda rng: None if rng.random() < 0.2 else round(rng.random() * 600, 2)
    if kind == "bool":
        return pick([None, True, False])
    if kind == "str_array_norm":
        return pick([[], [" VNAV ", "", "ALT"], ["tcas"]])
    if kind == "int_array":
        return pick([[], [1], [7]])
    if kind == "epoch_ts":
        return lambda rng: 1773144000
    return None


class Fleet:
    """Aircraft with a stable position that drifts between scrapes."""

    def __init__(self, rng: random.Random, n: int, prefix: str):
        self.rng = rng
        self.icao = [f"{prefix}{i:05x}" for i in range(n)]
        self.pos = [(rng.uniform(-60, 60), rng.uniform(-170, 170)) for _ in range(n)]

    def rows(self, cfg, ts: datetime, idx: range, callsign: str | None = None) -> list[dict]:
        rng, out = self.rng, []
        stamp = ts.strftime("%Y-%m-%d %H:%M:%S")
        fixed = {c.raw: c.kind for c in cfg.columns if c.kind in ("lat", "lon", "scrape_time", "source")}
        makers = [(c.raw, _maker(c.kind, c.raw)) for c in cfg.columns if c.raw != cfg.raw_key and c.raw not in fixed]
        for i in idx:
            lat, lon = self.pos[i]
            lat, lon = lat + rng.uniform(-0.01, 0.01), lon + rng.uniform(-0.01, 0.01)
            self.pos[i] = (lat, lon)
            row = {cfg.raw_key: self.icao[i], "lat": round(lat, 6), "lon": round(lon, 6), "source": cfg.name, "scrape_time": stamp}
            for raw, make in makers:
                row[raw] = make(rng) if make else None
            if callsign is not None:
                row["callsign" if "callsign" in row else "flight"] = callsign
            out.append(row)
        return out


def adsb_batch(cfg, rows: list[dict], now: datetime) -> tuple[list[str], int]:
    """Serialize one scraper batch: the given rows plus the §6 edge rows
    (stamped at ``now``) plus malformed lines. Returns the JSON lines and
    the number of rows the cleansing MV must keep."""
    from adsb_clickhouse_spark.sources.fixtures import edge_rows

    rows = rows + edge_rows(cfg, now)
    lines = [
        json.dumps({k: (v.strftime("%Y-%m-%d %H:%M:%S") if isinstance(v, datetime) else v) for k, v in r.items()})
        for r in rows
    ]
    lines[len(lines) // 3 : len(lines) // 3] = MALFORMED
    return lines, sum(_valid(cfg, r) for r in rows)


# -- curation documents -------------------------------------------------------

_SYL = ["ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "ze", "po", "da", "fe", "gu", "hi", "ju"]


class Corpus:
    """Documents of 40 words from a 3,375-word vocabulary, each with a
    64-byte payload (one byte per perceptual-hash block, so unrelated
    payloads never look alike). Per batch of ``n`` documents: 3% exact
    text copies of an earlier document in the batch, 3% exact copies of a
    document from an earlier batch, 2% exact payload copies with new
    text, 3% near text copies (one word changed) in the batch and 3% of
    earlier batches, and 1% each of near payload copies (one byte changed)
    in the batch and of earlier batches. Five unique documents per batch
    carry the batch's probe token."""

    SHARES = {
        "exact_batch": 0.03,
        "exact_store": 0.03,
        "media_exact": 0.02,
        "near_batch": 0.03,
        "near_store": 0.03,
        "media_near_batch": 0.01,
        "media_near_store": 0.01,
    }

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.vocab = [a + b + c for a in _SYL for b in _SYL for c in _SYL]
        self.kept: list[tuple[int, str, bytes]] = []  # unique docs of earlier batches

    def _text(self) -> str:
        return " ".join(self.rng.choice(self.vocab) for _ in range(40))

    def _near(self, text: str) -> str:
        words = text.split()
        words[self.rng.randrange(len(words))] = self.rng.choice(self.vocab)
        return " ".join(words)

    def _near_payload(self, payload: bytes) -> bytes:
        b = bytearray(payload)
        b[self.rng.randrange(len(b))] ^= 0x01
        return bytes(b)

    def batch(self, b: int, n: int) -> dict:
        """One batch. ``exact_dup_ids`` are the injected copies the exact
        gates must drop: in-batch copies always, copies of an earlier
        batch's document only if that document was kept
        (``exact_store_sources`` maps them to it)."""
        rng = self.rng
        counts = {k: int(n * s) for k, s in self.SHARES.items()}
        base = b * 1_000_000
        unique = []
        for i in range(n - sum(counts.values())):
            text = self._text()
            if i < 5:
                text = f"probe{b} {text}"
            unique.append((base + i, text, rng.randbytes(64)))
        docs = list(unique)
        exact_ids, store_sources = [], {}
        nxt = base + len(unique)
        # copies never come from probe documents: a near copy that the
        # probabilistic near-dedup lets through would match the probe
        plain = unique[5:]
        for kind, k in counts.items():
            pool = self.kept if kind.endswith("_store") and self.kept else plain
            for _ in range(k):
                src_id, src_text, src_payload = rng.choice(pool)
                text, payload = self._text(), rng.randbytes(64)
                if kind == "exact_batch":
                    text = src_text
                    exact_ids.append(nxt)
                elif kind == "exact_store" and pool is self.kept:
                    text = src_text
                    store_sources[nxt] = src_id
                elif kind == "media_exact":
                    payload = src_payload
                    exact_ids.append(nxt)
                elif kind.startswith("near"):
                    text = self._near(src_text)
                elif kind.startswith("media_near"):
                    payload = self._near_payload(src_payload)
                docs.append((nxt, text, payload))
                nxt += 1
        self.kept += unique
        rows = [(d, t, p, f"h{d % 7}", [f"h{(d + 1) % 7}"]) for d, t, p in docs]
        return {
            "rows": rows,
            "exact_dup_ids": exact_ids,
            "exact_store_sources": store_sources,
            "probe": f"probe{b}",
            "probe_ids": {d[0] for d in unique[:5]},
        }


DOC_SCHEMA = "doc_id long, text string, payload binary, host string, out_links array<string>"
