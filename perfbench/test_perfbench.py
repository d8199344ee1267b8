"""The benchmark's own tests: ``python3 -m pytest perfbench/`` from the
repository root."""

from __future__ import annotations

import filecmp
import json
import os
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import census  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9_.-]+$")


def _generate(seed: int, out: Path) -> None:
    gen.corpus_tables(seed, str(out / "corpus"), n_docs=300, n_vecs=120, feed_files=2)
    gen.warsaw_inputs(seed, str(out / "warsaw"), hours=3, rows_per_hour=40,
                      gtfs_versions=2)


def _files(root: Path) -> list[str]:
    return sorted(str(p.relative_to(root)) for p in root.rglob("*") if p.is_file())


def test_generator_is_byte_identical_per_seed(tmp_path):
    _generate(7, tmp_path / "a")
    _generate(7, tmp_path / "b")
    _generate(8, tmp_path / "c")
    names = _files(tmp_path / "a")
    assert names == _files(tmp_path / "b") == _files(tmp_path / "c")
    assert len(names) > 15
    for n in names:
        assert filecmp.cmp(tmp_path / "a" / n, tmp_path / "b" / n, shallow=False), n
        if "/feed/" in n:  # the file stream takes feed files in mtime order
            assert os.stat(tmp_path / "a" / n).st_mtime == os.stat(tmp_path / "b" / n).st_mtime
    same = [n for n in names
            if filecmp.cmp(tmp_path / "a" / n, tmp_path / "c" / n, shallow=False)]
    assert same == []


def test_embeddings_clear_the_dedup_margin(tmp_path):
    import pyarrow.parquet as pq
    import numpy as np

    gen.corpus_tables(3, str(tmp_path), n_docs=400, n_vecs=400, feed_files=2)
    emb = np.stack(pq.read_table(tmp_path / "embeddings.parquet")["embedding"]
                   .to_numpy(zero_copy_only=False))
    assert gen.min_tau_gap(emb) >= gen.SEM_MARGIN


def test_rendered_delays_round_trip():
    import numpy as np

    rng = np.random.default_rng(0)
    for d in (0, 59, 60, 61, -61, 330, 1799, -300):
        text = gen.render_delay(rng, d)
        sign = -1 if text.startswith("-") else 1
        body = text.lstrip("-")
        if ":" in body:
            m, s = body.split(":")
            got = int(m) * 60 + int(s)
        elif "min" in body:
            parts = body.replace(" s", "").split(" min")
            got = int(parts[0]) * 60 + (int(parts[1]) if parts[1].strip() else 0)
        else:
            got = int(body.replace(" s", ""))
        assert sign * got == d, text


def test_benchmark_json_matches_emitted_metrics():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    e2e = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
    layer = [(m["name"], m["unit"]) for m in spec["per_layer"]]
    assert e2e == list(run.END_TO_END)
    assert layer == list(run.PER_LAYER)
    for name, _ in e2e + layer:
        assert NAME.match(name), name
    assert len({n for n, _ in e2e + layer}) == len(e2e) + len(layer)
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    assert max(spec["end_to_end"], key=lambda m: m["bound"])["name"] == "setup_s"
    from workloads import WORKLOADS

    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)


def test_per_layer_emits_every_metric_without_spans():
    class _Ctx:
        cycles = 1
        samples: dict = {}

    class _Tr:
        spans: list = []
        overhead_s = 0.0

    out = run.per_layer(_Ctx(), _Tr(), {}, object())
    assert list(out) == [n for n, _ in run.PER_LAYER]


def test_tail_uses_ten_samples_beyond():
    assert run.tail([1.0] * 5 + [9.0])[1] == "max"
    assert run.tail(list(map(float, range(20))))[1] == "p50"
    assert run.tail(list(map(float, range(100))))[1] == "p90"


def test_parse_metric():
    assert census.parse_metric("19 ms") == 19.0
    assert census.parse_metric("total (min, med, max (stageId: taskId))\n"
                               "2.5 s (1.3 s, 1.3 s, 1.3 s (stage 0.0: task 1))") == 2500.0
    assert census.parse_metric("total (min, med, max)\n78.5 KiB (1 B, 2 B, 3 B)") \
        == 78.5 * 1024
    assert census.parse_metric("12") == 12.0


def test_tree_cpu_counts_this_process():
    before = census.tree_cpu_s()
    deadline = time.process_time() + 0.3
    while time.process_time() < deadline:
        pass
    assert census.tree_cpu_s() - before >= 0.2


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "corpus", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


@pytest.fixture(scope="module")
def spark():
    from mobility_etl_spark.session import get_spark

    s = get_spark("perfbench-test", master="local[2]", shuffle_partitions=2,
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def test_census_keys_are_stable_and_repeat(spark):
    from pyspark.sql import functions as F

    tr = census.Tracer(spark, traced=True)
    counts = []
    for _ in range(2):
        tr.new_op()
        with tr.span("queries", "probe:exec") as sp:
            spark.range(2000).groupBy((F.col("id") % 7).alias("k")).count().collect()
        counts.append(sp["counts"])
    for c in counts:
        assert tuple(c) == census.CENSUS_KEYS
        assert c["jobs"] >= 1 and c["tasks"] >= 1
    assert {k: counts[0][k] for k in ("jobs", "stages", "tasks")} == \
        {k: counts[1][k] for k in ("jobs", "stages", "tasks")}

    # plan shape and planning time come from the write the span ran
    with tr.span("queries", "join:exec") as sp:
        spark.range(100).join(spark.range(100), "id").write.format("noop") \
            .mode("overwrite").save()
    assert sp["counts"]["broadcast_joins"] == 1 and sp["counts"]["smj"] == 0
    assert 0 <= sp["counts"]["plan_s"] <= sp["wall_s"]
