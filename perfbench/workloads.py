"""The two workloads. Each one generates its inputs, warms up (part of
the set-up time), runs a fixed number of measured cycles and then its
``finish`` ops, if it has any, and checks its outputs once, untimed,
against an independent answer.

``CYCLE_S`` is a rough wall time of one warm cycle on a 4-core machine;
a run measures ``ceil(seconds / CYCLE_S)`` whole cycles, a count that
does not depend on how fast the machine or the commit is, so two
commits always do the same work. A workload only calls the program's
public entry points; every call sits inside a ``Tracer.span`` so
untraced runs time it and traced runs also take a census of it.
``OP`` names the workload's unit op: the median of its ``<OP>_cpu_s``
samples is the end-to-end ``op_cpu_s``. ``NAMED`` maps the workload's
own figures, printed above the result line, to (samples, statistic).
"""

from __future__ import annotations

import glob
import os
import shutil
import time

import numpy as np
import pandas as pd

import gen
from census import data_files, tree_bytes, tree_cpu_s


class Ctx:
    """What a workload shares with the runner."""

    def __init__(self, spark, tracer, specs, data: str, work: str, seed: int):
        self.spark = spark
        self.tr = tracer
        self.specs = specs
        self.data = data
        self.work = work
        self.seed = seed
        self.samples: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.cycles = 0

    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)
        return ok


def _duck(data_dir: str):
    import duckdb

    con = duckdb.connect()
    for path in sorted(glob.glob(f"{data_dir}/*.parquet")):
        name = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    return con


def _same(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> str | None:
    """None when equal under the oracle gate's canonicalization, else
    what differs."""
    from tests.oracle_check import canon_rows

    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return f"columns {sorted(spark_pdf.columns)} != {sorted(oracle_pdf.columns)}"
    if len(spark_pdf) != len(oracle_pdf):
        return f"rows {len(spark_pdf)} != {len(oracle_pdf)}"
    if canon_rows(spark_pdf) != canon_rows(oracle_pdf):
        return "values differ"
    return None


def _run_query(ctx: Ctx, layer: str, name: str, build) -> tuple[float, pd.DataFrame]:
    """Build one query and collect its result, as a caller of the face
    would; returns (wall seconds, result). The checks compare the results
    of the last measured run, so no query runs twice. Traced runs split
    the call into a build span and an exec span, whose census holds the
    collect's planning time and executed plan shape."""
    tr = ctx.tr
    t0 = time.perf_counter()
    if tr.traced:
        with tr.span(layer, f"{name}:build", census=False):
            df = build()
        with tr.span(layer, f"{name}:exec"):
            out = df.toPandas()
    else:
        with tr.span(layer, name, census=False):
            out = build().toPandas()
    return time.perf_counter() - t0, out


# ---------------------------------------------------------------------------
# warsaw_hourly
# ---------------------------------------------------------------------------


class WarsawHourly:
    """The reference's three DAGs back to back. Each hour's scrape drop
    and weather row land through the manifest exists-guard, and a
    re-scrape of the landed hour is a no-op. After the measured hours a
    new GTFS version lands, the same zip is offered again and
    short-circuits on its hash, and the query pack reads the silver
    written so far. The warm-up lands the first GTFS version, so one lands
    every ``cycles`` hours."""

    ROWS_PER_HOUR = 3_000
    CYCLE_S = 4.0
    OP = "hourly_ingest"
    NAMED = {"hourly_ingest_p50_s": ("hourly_ingest_s", "p50"),
             "hourly_ingest_tail_s": ("hourly_ingest_s", "tail"),
             "noop_rerun_p50_s": ("noop_rerun_s", "p50"),
             "gtfs_ingest_s": ("gtfs_ingest_s", "p50"),
             "gtfs_unchanged_p50_s": ("gtfs_unchanged_s", "p50"),
             "warsaw_query_pass_s": ("warsaw_query_pass_s", "p50")}

    def __init__(self):
        self.hour = 0
        self.gtfs_version = -1
        self.pack: dict[str, pd.DataFrame] = {}  # of the latest pack run
        self.raw_bytes = 0
        self.written: list[tuple[int, int]] = []  # (files, bytes) per ingest

    def generate(self, seed: int, data: str, cycles: int) -> None:
        self.hours = cycles
        gen.warsaw_inputs(seed, data, self.hours, self.ROWS_PER_HOUR, gtfs_versions=2)
        self.truth = pd.read_parquet(f"{data}/truth_delays.parquet")
        self.expected_rows = self.truth.groupby("h").size().to_dict()

    def _paths(self, ctx: Ctx):
        lake = os.path.join(ctx.work, "lake")
        return (f"{lake}/silver/delays", f"{lake}/silver/weather",
                f"{lake}/silver/gtfs", f"{lake}/manifest")

    def _ingest(self, ctx: Ctx, name: str, fn, raw_paths: list[str], expect):
        """One call into sources; traced runs also diff the lake on disk."""
        lake = os.path.join(ctx.work, "lake")
        before = data_files(lake) if ctx.tr.traced else None
        with ctx.tr.span("sources", name) as sp:
            got = fn()
        if before is not None and raw_paths and not name.startswith("noop"):
            after = data_files(lake)
            new = [p for p, v in after.items() if before.get(p) != v]
            self.written.append((len(new), sum(after[p][0] for p in new)))
            self.raw_bytes += sum(os.path.getsize(p) for p in raw_paths)
        ctx.check(expect(got), f"{name}: unexpected result {got!r}")
        return sp["wall_s"]

    def warmup(self, ctx: Ctx) -> None:
        """The first GTFS version lands, cold. Its writes and manifest
        checks also warm most of the hourly path: in a traced run the
        hour right after it took as long as the hour after that one."""
        self._gtfs(ctx, 0)

    def finish(self, ctx: Ctx) -> None:
        """After the measured hours: the next GTFS version, then the pack."""
        self._gtfs(ctx, 1)
        self._run_pack(ctx)

    def _gtfs(self, ctx: Ctx, version: int) -> None:
        """GTFS version ``version`` lands, then the same zip is offered
        again and short-circuits on its hash."""
        from mobility_etl_spark.sources.pipelines import gtfs_ingest

        _, _, gtfs, manifest = self._paths(ctx)
        zip_path = f"{ctx.data}/gtfs/v{version:03d}.zip"
        ctx.tr.new_op()
        ctx.sample("gtfs_ingest_s", self._ingest(
            ctx, "gtfs_ingest", lambda: gtfs_ingest(ctx.spark, zip_path, gtfs, manifest),
            [zip_path], lambda w: len(w) == 8))
        ctx.tr.new_op()
        ctx.sample("gtfs_unchanged_s", self._ingest(
            ctx, "gtfs_unchanged", lambda: gtfs_ingest(ctx.spark, zip_path, gtfs, manifest),
            [], lambda w: w == {}))
        self.gtfs_version = version

    def cycle(self, ctx: Ctx) -> None:
        """One hour: its drop lands, and a re-scrape of it is a no-op."""
        from mobility_etl_spark.sources.pipelines import delays_ingest, weather_ingest
        from mobility_etl_spark.sources.schemas import DELAYS_RAW_SCHEMA, WEATHER_SCHEMA

        spark = ctx.spark
        delays, weather, _, manifest = self._paths(ctx)
        h = self.hour
        if h >= self.hours:
            raise RuntimeError("generated hours exhausted")
        wpath = f"{ctx.data}/weather/h{h:03d}.parquet"

        def land(prefix: str, sub: str, n_delays: int, n_weather: int) -> float:
            dpath = f"{ctx.data}/{sub}/h{h:03d}.parquet"
            return self._ingest(
                ctx, f"{prefix}delays",
                lambda: delays_ingest(
                    spark, spark.read.schema(DELAYS_RAW_SCHEMA).parquet(dpath),
                    delays, manifest),
                [dpath], lambda n: n == n_delays,
            ) + self._ingest(
                ctx, f"{prefix}weather",
                lambda: weather_ingest(
                    spark, spark.read.schema(WEATHER_SCHEMA).parquet(wpath),
                    weather, manifest),
                [wpath], lambda n: n == n_weather)

        ctx.tr.new_op()
        cpu0 = tree_cpu_s()
        ctx.sample("hourly_ingest_s", land("", "delays", self.expected_rows.get(h, 0), 1))
        ctx.sample("hourly_ingest_cpu_s", tree_cpu_s() - cpu0)
        ctx.tr.new_op()
        ctx.sample("noop_rerun_s", land("noop_", "rescrape", 0, 0))
        self.hour += 1

    def _run_pack(self, ctx: Ctx) -> None:
        ctx.tr.new_op()
        t0 = time.perf_counter()
        for name, build in self._pack(ctx).items():
            self.pack[name] = _run_query(ctx, "warsaw", name, build)[1]
            ctx.attempted += 1
        ctx.sample("warsaw_query_pass_s", time.perf_counter() - t0)

    def _pack(self, ctx: Ctx) -> dict:
        from mobility_etl_spark import warsaw

        spark = ctx.spark
        delays, weather, gtfs, _ = self._paths(ctx)

        def g(name):
            return spark.read.parquet(f"{gtfs}/{name}")

        return {
            "mean_delay_by_route_hour":
                lambda: warsaw.mean_delay_by_route_hour(spark.read.parquet(delays)),
            "worst_routes_with_weather":
                lambda: warsaw.worst_routes_with_weather(
                    spark.read.parquet(delays), spark.read.parquet(weather)),
            "delay_weather_asof":
                lambda: warsaw.delay_weather_asof(
                    spark.read.parquet(delays), spark.read.parquet(weather)),
            "route_timetable":
                lambda: warsaw.route_timetable(
                    g("trips"), g("routes"), g("stop_times"), g("calendar_dates")),
            "vehicle_delay_episodes":
                lambda: warsaw.vehicle_delay_episodes(spark.read.parquet(delays)),
        }

    # -- correctness against the generator's ground truth ------------------

    def verify(self, ctx: Ctx) -> None:
        spark = ctx.spark
        delays, weather, _gtfs, manifest = self._paths(ctx)
        landed = range(self.hour)
        truth = self.truth[self.truth["h"] < self.hour].copy()
        truth["ingest_ts"] = truth["ingest_ts"].dt.tz_convert(None)
        local = truth["ingest_ts"].dt.tz_localize("UTC").dt.tz_convert(gen.WARSAW)
        truth["dt"] = local.dt.date.astype(str)
        truth["hour"] = local.dt.hour

        key = ["vehicle_no", "ingest_ts", "route", "delay"]
        silver = spark.read.parquet(delays).selectExpr(
            *key, "delay_s", "CAST(dt AS STRING) AS dt", "hour").toPandas()
        silver["ingest_ts"] = pd.to_datetime(silver["ingest_ts"]).dt.tz_localize(None)
        got = silver.sort_values(key).reset_index(drop=True)
        want = truth[key + ["delay_s", "dt", "hour"]].sort_values(key).reset_index(drop=True)
        ok = len(got) == len(want) and all(
            (got[c].astype(str).values == want[c].astype(str).values).all()
            for c in key + ["dt", "hour"])
        ok = ok and (got["delay_s"].fillna(-10**9).astype(int).values
                     == want["delay_s"].fillna(-10**9).astype(int).values).all()
        ctx.check(bool(ok), f"delays silver != ground truth ({len(got)} vs {len(want)} rows)")

        wx = spark.read.parquet(weather).toPandas()
        ctx.check(len(wx) == len(landed), f"weather silver rows {len(wx)} != {len(landed)}")
        man = spark.read.parquet(manifest).groupBy("source").count().toPandas()
        man = dict(zip(man["source"], man["count"]))
        ctx.check(man == {"delays": self.hour, "weather": self.hour,
                          "gtfs": self.gtfs_version + 1},
                  f"manifest rows {man}")

        self._verify_pack(ctx, self.pack, truth)

    def _verify_pack(self, ctx: Ctx, pack: dict, truth: pd.DataFrame) -> None:
        wtruth = pd.read_parquet(f"{ctx.data}/truth_weather.parquet")
        wtruth = wtruth[wtruth["h"] < self.hour]
        parsed = truth.dropna(subset=["delay_s"])

        # mean delay per route and hour
        exp = (parsed.groupby(["dt", "hour", "route"])["delay_s"]
               .agg(["count", "sum", "max"]).reset_index())
        allkeys = truth.groupby(["dt", "hour", "route"]).size().reset_index()[["dt", "hour", "route"]]
        exp = allkeys.merge(exp, how="left", on=["dt", "hour", "route"])
        got = pack["mean_delay_by_route_hour"].copy()
        got["dt"] = got["dt"].astype(str)
        m = exp.merge(got, on=["dt", "hour", "route"], how="outer", indicator=True)
        ok = (m["_merge"] == "both").all() and len(got) == len(exp)
        ok = ok and (m["n_obs"].values == m["count"].fillna(0).values).all()
        mean = m["sum"] / m["count"]
        ok = ok and np.allclose(m["mean_delay_s"].astype(float), mean.astype(float),
                                rtol=1e-9, equal_nan=True)
        ok = ok and np.allclose(m["worst_delay_s"].astype(float),
                                m["max"].astype(float), equal_nan=True)
        ctx.check(bool(ok), "mean_delay_by_route_hour != ground truth")

        # worst routes per hour, with that hour's temperature
        exp = exp.assign(mean=exp["sum"] / exp["count"])
        exp = exp.sort_values(["dt", "hour", "mean", "route"],
                              ascending=[True, True, False, True], na_position="last")
        exp["rank"] = exp.groupby(["dt", "hour"]).cumcount() + 1
        exp = exp[exp["rank"] <= 10]
        got = pack["worst_routes_with_weather"]
        ok = sorted(zip(got["dt"].astype(str), got["hour"], got["route"], got["rank"])) \
            == sorted(zip(exp["dt"], exp["hour"], exp["route"], exp["rank"]))
        temps = dict(zip(wtruth["h"].map(self._hour_key(truth)), wtruth["temperature_c"]))
        for dt_, hr, t in zip(got["dt"].astype(str), got["hour"], got["mean_temp_c"]):
            want_t = temps.get((dt_, hr))
            ok = ok and ((pd.isna(t) and pd.isna(want_t)) or abs(t - want_t) < 1e-9)
        ctx.check(bool(ok), "worst_routes_with_weather != ground truth")

        # as-of weather: every observation sees its own hour's reading
        got = pack["delay_weather_asof"]
        hour_of = dict(zip(truth["ingest_ts"], truth["h"]))
        temp_h = dict(zip(wtruth["h"], wtruth["temperature_c"]))
        ts = pd.to_datetime(got["ingest_ts"]).dt.tz_localize(None)
        ok = len(got) == len(truth)
        for t, v in zip(ts, got["temperature_c_asof"]):
            w = temp_h.get(hour_of.get(t))
            ok = ok and ((pd.isna(v) and pd.isna(w)) or abs(v - w) < 1e-9)
        ctx.check(bool(ok), "delay_weather_asof != ground truth")

        # timetable of the last GTFS version landed (each landing overwrites)
        ok = self._verify_timetable(ctx, pack["route_timetable"])
        ctx.check(ok, "route_timetable != ground truth")

        # vehicle delay episodes (30-minute gap)
        t = truth.sort_values(["vehicle_no", "ingest_ts"])
        secs = (t["ingest_ts"] - pd.Timestamp(0)).dt.total_seconds()
        gap = secs.groupby(t["vehicle_no"]).diff()
        sess = (gap.isna() | (gap > 1800)).astype(int).groupby(t["vehicle_no"]).cumsum()
        exp = t.assign(s=sess.values).groupby(["vehicle_no", "s"]).agg(
            n=("ingest_ts", "size"), peak=("delay_s", "max")).reset_index()
        got = pack["vehicle_delay_episodes"]
        ok = len(got) == len(exp) and sorted(got["n_obs"]) == sorted(exp["n"]) and \
            sorted(got["peak_delay_s"].fillna(-10**9).astype(int)) == \
            sorted(exp["peak"].fillna(-10**9).astype(int))
        ctx.check(bool(ok), "vehicle_delay_episodes != ground truth")

    @staticmethod
    def _hour_key(truth: pd.DataFrame):
        keys = truth.groupby("h")[["dt", "hour"]].first()
        return lambda h: tuple(keys.loc[h]) if h in keys.index else None

    def _verify_timetable(self, ctx: Ctx, got: pd.DataFrame) -> bool:
        d = f"{ctx.data}/gtfs_truth/v{self.gtfs_version:03d}"
        trips = pd.read_parquet(f"{d}/trips.parquet")
        routes = pd.read_parquet(f"{d}/routes.parquet")
        st = pd.read_parquet(f"{d}/stop_times.parquet")
        cal = pd.read_parquet(f"{d}/calendar_dates.parquet")
        svc = cal[cal["exception_type"] == "1"][["service_id", "date"]]
        h, m, s = (st["departure_time"].str.split(":", expand=True).astype(int)[k]
                   for k in range(3))
        st = st.assign(dep=h * 3600 + m * 60 + s)
        x = (st.merge(trips, on="trip_id").merge(routes, on="route_id")
             .merge(svc, on="service_id"))
        exp = x.groupby(["route_id", "route_short_name", "date"]).agg(
            first=("dep", "min"), last=("dep", "max"),
            n=("trip_id", "nunique")).reset_index()

        def hms(v):
            return f"{v // 3600:02d}:{v % 3600 // 60:02d}:{v % 60:02d}"

        want = sorted((r.route_id, r.date, r.n, hms(r.first), hms(r.last))
                      for r in exp.itertuples())
        have = sorted((r.route_id, r.service_date.strftime("%Y%m%d"), r.n_trips,
                       r.first_departure, r.last_departure) for r in got.itertuples())
        return want == have

    def layer_extra(self, ctx: Ctx) -> dict:
        _, _, _, manifest = self._paths(ctx)
        import pyarrow.parquet as pq

        files = [p for p in data_files(manifest)]
        rows = sum(pq.read_metadata(p).num_rows for p in files)
        n = max(len(self.written), 1)
        return {
            "sources.files_written": sum(f for f, _ in self.written) / n,
            "sources.bytes_written": sum(b for _, b in self.written) / n,
            "sources.write_amp": (sum(b for _, b in self.written) / self.raw_bytes
                                  if self.raw_bytes else 0.0),
            "sources.manifest_files": len(files),
            "sources.manifest_rows": rows,
        }


# ---------------------------------------------------------------------------
# corpus
# ---------------------------------------------------------------------------


class Corpus:
    """Batch corpus faces, then the streaming capstone over the same
    corpus on a fresh root: init, M one-file micro-batches, finalize.
    Every face collects its result, which the check compares with its
    oracle."""

    FACES = ("pipeline_pretraining_full", "minhash_near_dup")
    # sf0.1 sizes; four feed files and compact_every as the registered
    # streaming face runs them (the embedding index compacts once a pass)
    N_DOCS = 5_000
    N_VECS = 2_000
    FEED_FILES = 4
    COMPACT_EVERY = 8
    CYCLE_S = 18.0
    OP = "stream_batch"
    NAMED = {"corpus_batch_pass_s": ("corpus_batch_pass_s", "p50"),
             "stream_batch_p50_s": ("stream_batch_s", "p50"),
             "stream_batch_tail_s": ("stream_batch_s", "tail"),
             "stream_finalize_s": ("stream_finalize_s", "p50")}

    def __init__(self):
        self.passes = 0
        self.snap: list[dict] = []
        self.results: dict[str, pd.DataFrame] = {}  # of the latest pass

    def generate(self, seed: int, data: str, cycles: int) -> None:
        gen.corpus_tables(seed, data, self.N_DOCS, self.N_VECS, self.FEED_FILES)
        self.warm_data = os.path.join(data, "warm")
        gen.corpus_tables(seed, self.warm_data, self.N_DOCS // 4, self.N_VECS // 4,
                          self.FEED_FILES)

    def warmup(self, ctx: Ctx) -> None:
        """One pass over a quarter-size corpus: the same calls and code
        paths, a quarter of the data (most of a cold pass is the JVM
        and the Python workers warming up, not data)."""
        self.cycle(ctx, self.warm_data)

    def cycle(self, ctx: Ctx, data: str | None = None) -> None:
        from mobility_etl_spark.io import load_table
        from mobility_etl_spark.streaming.jobs import (
            pretraining_finalize, pretraining_stream_ingest, pretraining_stream_init)

        spark, tr = ctx.spark, ctx.tr
        data = data or ctx.data
        batch = 0.0
        for name in self.FACES:
            tr.new_op()
            dt, self.results[name] = _run_query(
                ctx, "queries", name, lambda: ctx.specs[name].builder(spark, data))
            batch += dt
            ctx.attempted += 1
        ctx.sample("corpus_batch_pass_s", batch)

        tr.new_op()
        root = os.path.join(ctx.work, f"stream-{self.passes:03d}")
        self.passes += 1
        emb = load_table(spark, data, "embeddings")
        with tr.span("streaming", "init"):
            pretraining_stream_init(spark, root, emb=emb)
        log = ctx.stream_log
        seen = len(log.started)
        cpu0 = tree_cpu_s()
        with tr.span("streaming", "ingest") as sp:
            feed = (spark.readStream.schema("doc_id long, text string, lang string")
                    .option("maxFilesPerTrigger", 1).parquet(f"{data}/feed"))
            pretraining_stream_ingest(spark, feed, root, os.path.join(root, "ckpt"),
                                      emb, gen.SEM_TAU, compact_every=self.COMPACT_EVERY)
        runs = log.started[seen:]
        log.wait_terminated(runs)
        sp["runs"] = runs
        batches = [p for p in log.progress if p["run"] in runs and p["rows"]]
        ctx.sample("stream_batch_cpu_s", (tree_cpu_s() - cpu0) / max(len(batches), 1))
        ctx.check(len(batches) == self.FEED_FILES,
                  f"stream ran {len(batches)} data batches, expected {self.FEED_FILES}")
        for p in batches:
            ctx.sample("stream_batch_s", p["triggerExecution"] / 1e3)
            ctx.sample("stream_progress", p)
        with tr.span("streaming", "finalize") as fsp:
            self.results["stream_finalize"] = pretraining_finalize(spark, root).toPandas()
        ctx.attempted += 1
        ctx.sample("stream_finalize_s", fsp["wall_s"])
        if tr.traced:
            self.snap.append(self._snapshots(root, len(batches)))
        shutil.rmtree(root, ignore_errors=True)

    @staticmethod
    def _snapshots(root: str, n_batches: int) -> dict:
        """State tables on disk after one stream pass."""
        tables = ("survivors", "evalgrams", "traingrams", "embindex")
        live = manifests = 0
        for t in tables:
            snaps = sorted(glob.glob(f"{root}/{t}/_snapshots/v*.manifest.json"),
                           key=lambda p: int(os.path.basename(p)[1:].split(".")[0]))
            manifests += len(snaps)
            if snaps:
                import json

                with open(snaps[-1]) as fh:
                    live += len(json.load(fh)["files"])
        cats = [int(os.path.basename(p)[1:].split(".")[0])
                for p in glob.glob(f"{root}/**/v*.catalog.json", recursive=True)]
        top = max(cats, default=0)
        return {
            "snapshots.state_bytes": tree_bytes(*(f"{root}/{t}" for t in tables)),
            "snapshots.live_files": live,
            "snapshots.manifests": manifests,
            "snapshots.catalog_versions": top,
            # catalog commits = init + one per batch + one per maintenance pass
            "snapshots.compactions": max(top - 1 - n_batches, 0),
        }

    def verify(self, ctx: Ctx) -> None:
        """The latest pass's results against the registered DuckDB
        oracles; the stream's against the batch capstone's oracle."""
        con = _duck(ctx.data)
        oracle_of = {name: name for name in self.FACES}
        oracle_of["stream_finalize"] = "pipeline_pretraining_full"
        for name, face in oracle_of.items():
            try:
                diff = _same(self.results[name], con.execute(ctx.specs[face].oracle).df())
            except Exception as exc:  # noqa: BLE001 - a crash is a wrong result
                diff = f"{type(exc).__name__}: {exc}"
            ctx.check(diff is None, f"{name} != {face} oracle: {diff}")

    def layer_extra(self, ctx: Ctx) -> dict:
        if not self.snap:
            return {}
        return {k: float(np.mean([s[k] for s in self.snap])) for k in self.snap[0]}


WORKLOADS = {"warsaw_hourly": WarsawHourly, "corpus": Corpus}
