"""Self-tests of the benchmark at tiny size.

    python3 -m pytest perfbench -q -p no:cacheprovider

They check that the generator is deterministic for a seed, that the
oracle agrees with the sink on a tiny stream of every workload shape,
and that each run mode prints every metric named in BENCHMARK.json
once, with its unit.
"""

from __future__ import annotations

import dataclasses
import json
import os
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run as bench  # noqa: E402
from workloads import WORKLOADS, Generator  # noqa: E402


def tiny(name: str):
    """The workload's shape at a size that runs in seconds."""
    wl = WORKLOADS[name]
    scale = {"load_keys": min(wl.load_keys, 300), "batch_events": 400}
    scale["key_space"] = max(scale["load_keys"], 200)
    return dataclasses.replace(wl, **scale)


def batch_rows(gen: Generator, n: int):
    return [gen.next_batch().rows.to_pydict() for _ in range(n)]


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_generator_is_deterministic_for_a_seed(name):
    wl = tiny(name)
    a, b = Generator(wl, 7), Generator(wl, 7)
    load_a, load_b = a.load_batch(), b.load_batch()
    if load_a is not None:
        assert load_a.rows.equals(load_b.rows)
    assert batch_rows(a, 3) == batch_rows(b, 3)
    assert a.oracle.state == b.oracle.state
    assert batch_rows(Generator(wl, 7), 1) != batch_rows(Generator(wl, 8), 1)


def test_malformed_envelopes_do_not_parse_and_skip_the_oracle():
    wl = tiny("mongo_fanout_8_tables")
    batch = Generator(dataclasses.replace(wl, malformed_share=0.2), 3).next_batch()
    unparseable = 0
    for v in batch.rows.column("value").to_pylist():
        try:
            json.loads(v)
        except ValueError:
            unparseable += 1
    assert unparseable == batch.malformed > 0
    all_bad = Generator(dataclasses.replace(wl, malformed_share=1.0), 3)
    assert all_bad.next_batch().malformed == wl.batch_events
    assert all_bad.oracle.state == {}


@pytest.fixture(scope="module")
def spark_env(tmp_path_factory):
    assert bench.program_here()
    bench.use_work_dir(str(tmp_path_factory.mktemp("spark")))


def run_tiny(name: str, trace: bool, work) -> dict:
    b = bench.Bench(tiny(name), 5, str(work / "run"))
    b.spans_path = str(work / "spans.jsonl")
    result = bench.run(b, 2, trace, 0.0, time.perf_counter())
    if trace:
        with open(b.spans_path) as f:
            spans = [json.loads(line) for line in f]
        assert {s["name"] for s in spans} >= {"pipeline.batch", "sink.apply"}
    assert result["correct"], b.notes
    assert result["failed"] == 0
    return result


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_oracle_agrees_with_sink(name, spark_env, tmp_path):
    run_tiny(name, False, tmp_path)


def _declared(kind: str) -> dict[str, str]:
    with open(os.path.join(bench.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec[kind]}


@pytest.mark.parametrize(
    "trace,kind", [(False, "end_to_end"), (True, "per_layer")]
)
def test_every_metric_printed_once_with_its_unit(trace, kind, spark_env, tmp_path):
    result = run_tiny("mongo_fanout_8_tables", trace, tmp_path)
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == _declared(kind)
    line = json.dumps(result)
    for name in got:
        assert line.count(json.dumps(name)) == 1
