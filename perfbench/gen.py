"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, out_dir, sizes)``: the
same seed writes byte-identical files (fixed parquet writer settings,
fixed zip timestamps, fixed feed-file mtimes) and returns the ground truth
the correctness checks compare against.

* ``corpus_tables`` — ``documents`` + ``embeddings`` with a seeded
  near-duplicate share, eval-split contamination, and every embedding
  pair cosine kept clear of the semantic-dedup threshold; plus the
  id-ordered feed files the streaming capstone consumes.
* ``warsaw_inputs`` — hourly raw scrape drops (the reference's 8 string
  columns), weather rows, re-scrapes of landed hours, and GTFS zip
  versions (FIXTURES.md §A/§C), with the true ``delay_s`` of every
  rendered delay string.
"""

from __future__ import annotations

import datetime as dt
import io
import os
import zipfile
from zoneinfo import ZoneInfo

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: Semantic-dedup threshold of the pretraining capstone and the margin
#: every generated embedding pair keeps from it, so engines that differ
#: by float rounding still decide each pair the same way.
SEM_TAU = 0.47
SEM_MARGIN = 0.01

WARSAW = ZoneInfo("Europe/Warsaw")
_FEED_MTIME0 = 1_700_000_000


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent, reproducible stream per (seed, purpose)."""
    return np.random.default_rng([seed, sum(map(ord, stream))])


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", write_statistics=True)


def _table(df: pd.DataFrame, schema: pa.Schema) -> pa.Table:
    return pa.Table.from_pandas(df, schema=schema, preserve_index=False)


_S = pa.string()
_I64 = pa.int64()
_I32 = pa.int32()
_F64 = pa.float64()


# ---------------------------------------------------------------------------
# corpus: documents + embeddings + the stream's feed files
# ---------------------------------------------------------------------------

_VOCAB = np.array(
    "key agg row scan slow fast table value part hash a the line sort window "
    "merge batch spark join shuffle stage task plan cache index query file "
    "page block node tree".split()
)
_LANGS = np.array(["en", "de", "fr", "es", "zh"])
_LANG_P = [0.44, 0.14, 0.13, 0.15, 0.14]
EMB_DIM = 64


def _embeddings(rng, n: int, dup_share: float) -> np.ndarray:
    """Gaussian directions plus a ``dup_share`` of near-copies; any pair
    whose cosine lands within SEM_MARGIN of SEM_TAU is redrawn."""
    v = rng.standard_normal((n, EMB_DIM))
    for i in np.flatnonzero(rng.random(n) < dup_share):
        if i:
            v[i] = v[rng.integers(0, i)] + 0.25 * rng.standard_normal(EMB_DIM)
    v = v.astype(np.float32)
    for _ in range(100):
        m = v.astype(np.float64)
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        cos = m @ m.T
        close = np.abs(cos - SEM_TAU) < SEM_MARGIN
        np.fill_diagonal(close, False)
        bad = np.unique(np.nonzero(np.triu(close))[1])
        if not len(bad):
            return v
        v[bad] = rng.standard_normal((len(bad), EMB_DIM)).astype(np.float32)
    raise RuntimeError("could not clear the semantic-dedup margin")


def min_tau_gap(emb: np.ndarray) -> float:
    """Smallest |cosine − SEM_TAU| over all distinct embedding pairs."""
    m = emb.astype(np.float64)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    cos = m @ m.T
    iu = np.triu_indices(len(m), 1)
    return float(np.abs(cos[iu] - SEM_TAU).min())


def corpus_tables(
    seed: int,
    out_dir: str,
    n_docs: int = 5_000,
    n_vecs: int = 2_000,
    feed_files: int = 4,
    dup_share: float = 0.08,
) -> dict:
    """Write ``documents``/``embeddings`` and ``feed/`` (``feed_files``
    id-ordered parquet drops, mtimes ascending so the file stream takes
    them in id order). Returns sizes and the planted duplicate counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, "corpus")
    lens = rng.integers(10, 100, n_docs)
    toks = [list(_VOCAB[rng.integers(0, len(_VOCAB), k)]) for k in lens]
    near_dups = 0
    contaminated = 0
    for i in range(1, n_docs):
        r = rng.random()
        if r < dup_share:
            # near-duplicate: an earlier doc with a few tokens swapped
            src = list(toks[rng.integers(max(0, i - 250), i)])
            for j in rng.integers(0, len(src), 3):
                src[j] = _VOCAB[rng.integers(0, len(_VOCAB))]
            toks[i] = src
            near_dups += 1
        elif r < dup_share + 0.04 and i % 97:
            # contamination: carries a 6-token window of an eval doc
            ev = toks[97 * rng.integers(0, i // 97 + 1)]
            if len(ev) >= 6:
                a = rng.integers(0, len(ev) - 5)
                b = rng.integers(0, len(toks[i]))
                toks[i][b:b] = ev[a:a + 6]
                contaminated += 1
    text = [" ".join(t) for t in toks]
    docs = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": text,
        "lang": _LANGS[rng.choice(5, n_docs, p=_LANG_P)],
        "source": [f"src{k}" for k in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })
    _write(_table(docs, pa.schema([("doc_id", _I64), ("text", _S), ("lang", _S),
                                   ("source", _S), ("n_chars", _I64)])),
           f"{out_dir}/documents.parquet")

    emb = _embeddings(rng, n_vecs, dup_share)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_vecs), _I64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 3, n_vecs), _I32),
    }), f"{out_dir}/embeddings.parquet")

    feed = os.path.join(out_dir, "feed")
    os.makedirs(feed, exist_ok=True)
    feed_schema = pa.schema([("doc_id", _I64), ("text", _S), ("lang", _S)])
    for k, idx in enumerate(np.array_split(np.arange(n_docs), feed_files)):
        path = os.path.join(feed, f"part-{k:03d}.parquet")
        _write(_table(docs.iloc[idx][["doc_id", "text", "lang"]], feed_schema), path)
        ts = _FEED_MTIME0 + 2 * k
        os.utime(path, (ts, ts))
    return {"docs": n_docs, "vecs": n_vecs, "feed_files": feed_files,
            "near_dups": near_dups, "contaminated": contaminated}


# ---------------------------------------------------------------------------
# warsaw_hourly: scrape drops, weather, GTFS zip versions
# ---------------------------------------------------------------------------

DELAYS_RAW = pa.schema([
    ("type", _S), ("vehicle_no", _S), ("brigade", _S), ("route", _S),
    ("trip_headsign", _S), ("delay", _S), ("stop_name", _S), ("outside", _S),
    ("ingest_ts", pa.timestamp("us", tz="UTC")),
])
WEATHER_RAW = pa.schema([
    ("station_id", _S), ("station_name", _S), ("meas_date", pa.date32()),
    ("meas_hour", _I32), ("temperature_c", _F64), ("wind_speed_ms", _F64),
    ("wind_dir_deg", _I32), ("rel_humidity_pct", _F64), ("precip_sum_mm", _F64),
    ("pressure_hpa", _F64),
])
_GARBAGE = ["brak danych", "n/a", "??", "--", "spóźniony", "5 godzin", "min", "x1"]
_GTFS_COLS = {
    "agency": ["agency_id", "agency_name", "agency_url", "agency_timezone"],
    "calendar_dates": ["service_id", "date", "exception_type"],
    "feed_info": ["feed_publisher_name", "feed_publisher_url", "feed_lang",
                  "feed_start_date", "feed_end_date"],
    "routes": ["route_id", "agency_id", "route_short_name", "route_long_name",
               "route_type"],
    "shapes": ["shape_id", "shape_pt_lat", "shape_pt_lon", "shape_pt_sequence"],
    "stops": ["stop_id", "stop_name", "stop_lat", "stop_lon"],
    "stop_times": ["trip_id", "arrival_time", "departure_time", "stop_id",
                   "stop_sequence"],
    "trips": ["route_id", "service_id", "trip_id", "trip_headsign", "shape_id"],
}


def render_delay(rng, d: int) -> str:
    """One of the scraper's text forms for a delay of ``d`` seconds."""
    sign = "-" if d < 0 else ""
    a = abs(d)
    m, s = divmod(a, 60)
    forms = [f"{a} s", f"{m}:{s:02d}", f"{a}"]
    forms.append(f"{m} min" if s == 0 else f"{m} min {s} s")
    text = forms[rng.integers(0, len(forms))]
    return f"{sign}{text}" if a else text


def _gtfs_time(sec: int) -> str:
    h, r = divmod(sec, 3600)
    return f"{h:02d}:{r // 60:02d}:{r % 60:02d}"


def _gtfs_version(rng, routes: list[str], stops: list[str], start: dt.date, v: int):
    """One GTFS feed version as {table: list of row lists}."""
    dates = [start + dt.timedelta(days=k) for k in range(7)]
    services = ["WD", "SA", "SU"]
    cal = []
    for k, d in enumerate(dates):
        sid = services[0] if d.weekday() < 5 else services[1 + (d.weekday() == 6)]
        cal.append([sid, d.strftime("%Y%m%d"), 1])
        if k == 3:
            cal.append([services[(k + 1) % 3], d.strftime("%Y%m%d"), 2])
    trips, stop_times = [], []
    for t in range(120 + int(rng.integers(0, 40))):
        rid = routes[int(rng.integers(0, len(routes)))]
        tid = f"v{v}_t{t}"
        trips.append([rid, services[int(rng.integers(0, 3))], tid, f"Dest {t % 17}",
                      f"sh{t % 10}"])
        # late trips run past midnight: GTFS times beyond 24:00:00
        sec = int(rng.integers(5 * 3600, 25 * 3600))
        for q in range(int(rng.integers(8, 16))):
            sec += int(rng.integers(60, 240))
            stop_times.append([tid, _gtfs_time(sec), _gtfs_time(sec + 30),
                               stops[int(rng.integers(0, len(stops)))], q + 1])
    shapes = [[f"sh{k}", round(52.2 + 0.001 * q, 6), round(21.0 + 0.002 * q, 6), q]
              for k in range(10) for q in range(20)]
    return {
        "agency": [["ZTM", "ZTM Warszawa", "https://www.wtp.waw.pl", "Europe/Warsaw"]],
        "calendar_dates": cal,
        "feed_info": [["ZTM", "https://www.ztm.waw.pl", "pl",
                       dates[0].strftime("%Y%m%d"), dates[-1].strftime("%Y%m%d")]],
        "routes": [[r, "ZTM", r, f"Line {r}", 0 if r.isdigit() and int(r) < 40 else 3]
                   for r in routes],
        "shapes": shapes,
        "stops": [[f"s{k}", name, round(52.1 + k * 0.001, 6), round(20.9 + k * 0.002, 6)]
                  for k, name in enumerate(stops)],
        "stop_times": stop_times,
        "trips": trips,
    }


def _write_zip(tables: dict, path: str) -> None:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, rows in tables.items():
            lines = [",".join(_GTFS_COLS[name])]
            lines += [",".join(str(x) for x in r) for r in rows]
            info = zipfile.ZipInfo(f"{name}.txt", date_time=(2024, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(info, "\n".join(lines) + "\n")
    with open(path, "wb") as fh:
        fh.write(buf.getvalue())


def warsaw_inputs(
    seed: int,
    out_dir: str,
    hours: int = 48,
    rows_per_hour: int = 300,
    gtfs_versions: int = 24,
) -> dict:
    """Write ``hours`` hourly drops (``delays/hNNN.parquet`` +
    ``weather/hNNN.parquet``), one re-scrape per hour
    (``rescrape/hNNN.parquet``: fresh rows for an already-landed hour,
    which the exists-guard must drop), and ``gtfs/vNNN.zip`` versions.

    Ground truth lands in ``truth_delays.parquet`` (every non-empty row
    of every first drop with its true ``delay_s``),
    ``truth_weather.parquet`` and ``gtfs_truth/vNNN/*.parquet``."""
    rng = _rng(seed, "warsaw")
    for sub in ("delays", "weather", "rescrape", "gtfs", "gtfs_truth"):
        os.makedirs(os.path.join(out_dir, sub), exist_ok=True)
    routes = sorted({str(x) for x in rng.integers(1, 60, 40)} |
                    {f"N{k:02d}" for k in range(1, 8)} | {"175", "509", "E-2"})
    vehicles = [f"{rng.integers(1000, 9999)}" if k % 3 else f"A{k:03d}"
                for k in range(500)]
    vehicles = sorted(set(vehicles))
    stops = [f"Stop {k:03d} {'Centrum' if k % 7 == 0 else 'Park'}" for k in range(200)]
    # summer start dates only: no DST switch inside the window, so every
    # UTC hour maps to exactly one Warsaw-local (dt, hour) partition
    day0 = dt.datetime(2024, 5, 6, 20, tzinfo=dt.timezone.utc) + dt.timedelta(
        days=int(seed % 90))

    truth = []
    wx = []

    def drop(h: int, sub: str, keep_truth: bool) -> None:
        t0 = day0 + dt.timedelta(hours=h)
        n = rows_per_hour + int(rng.integers(-rows_per_hour // 5, rows_per_hour // 5))
        secs = np.sort(rng.choice(np.arange(1, 3600), n, replace=False))
        rows = []
        for s in secs:
            ts = t0 + dt.timedelta(seconds=int(s))
            if rng.random() < 0.01:  # the scraper's empty row
                rows.append(["", "", "", "", "", "", "", "", ts])
                continue
            veh = vehicles[int(rng.integers(0, len(vehicles)))]
            route = routes[int(rng.integers(0, len(routes)))]
            if rng.random() < 0.03:
                txt, true = _GARBAGE[int(rng.integers(0, len(_GARBAGE)))], None
            else:
                true = int(rng.integers(-300, 1800))
                txt = render_delay(rng, true)
            row = ["TRAM" if route.isdigit() and int(route) < 40 else "BUS", veh,
                   str(int(rng.integers(1, 30))), route,
                   f"Dest {int(rng.integers(0, 17))}", txt,
                   stops[int(rng.integers(0, len(stops)))],
                   "Tak" if rng.random() < 0.5 else "Nie", ts]
            rows.append(row)
            if keep_truth:
                truth.append(row + [true, h])
        cols = [f.name for f in DELAYS_RAW]
        _write(_table(pd.DataFrame(rows, columns=cols), DELAYS_RAW),
               os.path.join(out_dir, sub, f"h{h:03d}.parquet"))

    for h in range(hours):
        drop(h, "delays", True)
        drop(h, "rescrape", False)
        local = (day0 + dt.timedelta(hours=h)).astimezone(WARSAW)
        # temperature is never NULL: asof_join carries the last non-NULL
        # payload forward, so a NULL reading would read as the previous
        # hour's, where an ASOF join gives NULL
        temp = round(float(rng.normal(18, 5)), 1)
        row = ["12375", "Warszawa", local.date(), local.hour, temp,
               None if rng.random() < 0.1 else round(float(rng.uniform(0, 12)), 1),
               int(rng.integers(0, 360)),
               round(float(rng.uniform(30, 100)), 1),
               None if rng.random() < 0.2 else round(float(rng.uniform(0, 4)), 1),
               round(float(rng.normal(1013, 6)), 1)]
        wx.append(row + [h])
        _write(_table(pd.DataFrame([row], columns=[f.name for f in WEATHER_RAW]),
                      WEATHER_RAW),
               os.path.join(out_dir, "weather", f"h{h:03d}.parquet"))

    tcols = [f.name for f in DELAYS_RAW] + ["delay_s", "h"]
    tschema = pa.schema(list(DELAYS_RAW) + [("delay_s", _I64), ("h", _I64)])
    _write(_table(pd.DataFrame(truth, columns=tcols).astype({"delay_s": "Int64"}),
                  tschema), os.path.join(out_dir, "truth_delays.parquet"))
    wschema = pa.schema(list(WEATHER_RAW) + [("h", _I64)])
    _write(_table(pd.DataFrame(wx, columns=[f.name for f in wschema]), wschema),
           os.path.join(out_dir, "truth_weather.parquet"))

    start = day0.astimezone(WARSAW).date()
    for v in range(gtfs_versions):
        tables = _gtfs_version(rng, routes, stops, start, v)
        _write_zip(tables, os.path.join(out_dir, "gtfs", f"v{v:03d}.zip"))
        tdir = os.path.join(out_dir, "gtfs_truth", f"v{v:03d}")
        os.makedirs(tdir, exist_ok=True)
        for name in ("trips", "routes", "stop_times", "calendar_dates"):
            df = pd.DataFrame(tables[name], columns=_GTFS_COLS[name]).astype(str)
            _write(pa.Table.from_pandas(df, preserve_index=False),
                   os.path.join(tdir, f"{name}.parquet"))
    return {"hours": hours, "gtfs_versions": gtfs_versions,
            "truth_rows": len(truth), "start_utc": day0.isoformat()}
