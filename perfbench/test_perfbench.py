"""Self-tests of the benchmark: seeded inputs, metric names, and the
traced run's span accounting.

    python3 -m pytest perfbench/ -q
"""

from __future__ import annotations

import json
import os
import re

import pyarrow.parquet as pq
import pytest

import run  # noqa: I001 - puts the checkout on sys.path first
import inputs
from inputs import KEY_COLS
from layers import PER_LAYER

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    inputs.generate(a, 7)
    inputs.generate(b, 7)
    for t in inputs.TABLES:
        assert (a / f"{t}.parquet").read_bytes() == (b / f"{t}.parquet").read_bytes(), t


def test_other_seed_keeps_row_counts_and_changes_keys(tmp_path):
    rows_a = inputs.generate(tmp_path / "a", 7)
    rows_b = inputs.generate(tmp_path / "b", 8)
    assert rows_a == rows_b
    for t in inputs.TABLES:
        for col in KEY_COLS[t]:
            ka = set(pq.read_table(tmp_path / "a" / f"{t}.parquet", columns=[col])[col].to_pylist())
            kb = set(pq.read_table(tmp_path / "b" / f"{t}.parquet", columns=[col])[col].to_pylist())
            assert len(ka) == len(kb) and ka != kb, (t, col)


def test_metric_names_match_the_benchmark_file():
    spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in spec[k]]
    names += [w["name"] for w in spec["workloads"]]
    assert all(NAME.fullmatch(n) for n in names), names
    assert len(names) == len(set(names))
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    mapped = [m for t in run.LAYER_TARGETS for m in t["layers"]]
    assert sorted(mapped) == sorted(set(PER_LAYER) - {"trace.overhead_s"})
    end_to_end = {m["name"] for m in spec["end_to_end"]}
    for t in run.LAYER_TARGETS:
        assert set(t["moves"]) <= end_to_end and set(t["on"]) <= set(run.WORKLOADS), t


def test_traced_pass_spans_cover_each_query_and_sum_to_the_pass(tmp_path):
    from checks import Checker
    from layers import Tracer

    cores = min(4, len(os.sched_getaffinity(0)))
    run._configure_env(tmp_path, cores)
    data = tmp_path / "data"
    inputs.generate(data, 3)
    spark, registry, _ = run._setup(cores)
    try:
        names = ("m1_spearman_by_era", "c1_kfold_era_counts", "t8_distributed_pca")
        oracles = {q: registry.REGISTRY[q].oracle for q in names if registry.REGISTRY[q].oracle}
        checker = Checker(data, inputs.TABLES, oracles)
        tracer = Tracer(spark, "selftest", cores)
        failures: list = []
        wall, records = run._run_pass(spark, registry, names, data, "p0", checker, failures, tracer)
        layers, detail = tracer.attribute("p0", records)
        checker.close()
    finally:
        run._shutdown(spark)
    assert not failures, failures
    for q, d in detail.items():
        assert d["span_cover"] >= 0.95, (q, d["span_cover"])
        assert d["jobs"] >= 1, q
    walls = sum(d["wall_s"] for d in detail.values())
    assert walls == pytest.approx(wall, rel=0.01, abs=0.01)
    assert layers["spark.jobs"] == sum(d["jobs"] for d in detail.values())
    assert layers["operators.build_s"] <= wall
    # Spark's job times and the benchmark's clock agree: every job span
    # lies inside its query's wall (job times have millisecond steps)
    bounds = {r.query: (r.start, r.end) for r in records}
    for span in tracer.spans:
        if span["name"] == "spark.job":
            lo, hi = bounds[span["parent"].split("/")[2]]
            assert lo - 0.01 <= span["start"] <= span["end"] <= hi + 0.01, span
