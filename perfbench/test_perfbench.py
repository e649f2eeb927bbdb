"""Tests for the benchmark's own arithmetic and bookkeeping (no Spark).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import math
import os
import re
import sys
import time

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
import report  # noqa: E402
import stats  # noqa: E402
from spans import Tracer  # noqa: E402
from workloads import Bench  # noqa: E402


def test_tail_percentile_keeps_ten_samples_beyond():
    xs = list(range(1, 26))                     # 25 samples
    pct, value = stats.tail_percentile(xs)
    assert value == 15 and pct == pytest.approx(60.0)
    assert sum(x > value for x in xs) == 10
    assert stats.tail_percentile(list(range(10))) is None
    pct, value = stats.tail_percentile(list(range(11)))
    assert value == 0 and pct == pytest.approx(100 / 11)


def test_self_time_with_partly_overlapping_children():
    # children [1,4] and [3,6] overlap each other; [8,12] sticks out of the
    # span: covered = [1,6] + [8,10] = 7 of the 10 s
    assert stats.self_time(0, 10, [(1, 4), (3, 6), (8, 12)]) == 3
    assert stats.self_time(0, 10, []) == 10
    assert stats.self_time(0, 10, [(-5, 20)]) == 0
    assert stats.self_time(0, 10, [(11, 12)]) == 10


def test_union_length_nested_and_disjoint():
    assert stats.union_length([(0, 10), (2, 3), (12, 13)]) == 11
    assert stats.union_length([]) == 0


def test_error_rate_counts_failed_checks():
    b = Bench("/nonexistent", seed=0, seconds=1, tracer=Tracer(False))
    b.check("build 0 node a", None)
    b.check("build 0 node b", "(rows) = (0,) != (15,)")
    b.check("build 0 docs", "")
    assert (b.attempted, b.failed) == (3, 1)
    assert b.failures == ["build 0 node b: (rows) = (0,) != (15,)"]
    assert stats.error_rate(b.attempted, b.failed) == pytest.approx(1 / 3)
    with pytest.raises(ValueError):
        stats.error_rate(0, 0)
    with pytest.raises(ValueError):
        stats.error_rate(2, 3)


def _file(path, n):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as fh:
        fh.write(b"x" * n)


def test_stored_bytes_per_live_byte_on_hand_built_dirs(tmp_path):
    stored = tmp_path / "wh" / "t"
    _file(stored / "order_month=1992-01" / "part-0.parquet", 100)
    _file(stored / "order_month=1992-02" / "part-0.parquet", 150)
    _file(stored / "_SUCCESS", 0)
    _file(stored / ".part-0.parquet.crc", 50)
    os.symlink(stored / "_SUCCESS", stored / "link")      # not counted
    live = tmp_path / "compacted" / "t"
    _file(live / "part-0.parquet", 100)
    assert stats.dir_bytes(str(stored)) == 300
    assert stats.stored_per_live([str(stored)], [str(live)]) == 3.0
    empty = tmp_path / "empty"
    empty.mkdir()
    assert math.isnan(stats.stored_per_live([str(stored)], [str(empty)]))


def test_lazy_span_is_stretched_over_the_write_that_forces_it():
    tr = Tracer(True)
    with tr.span("materialize"):
        with tr.span("merge_upsert", lazy=True):
            time.sleep(0.01)
        with tr.span("overwrite_table_atomic"):
            time.sleep(0.02)
        with tr.span("drop_relation"):
            pass
    mat, lazy, write, drop = tr.spans
    assert write.parent is lazy and lazy.parent is mat
    assert drop.parent is mat
    assert lazy.end == write.end
    agg = tr.by_name()
    assert agg["merge_upsert"]["total_s"] >= 0.03
    assert agg["merge_upsert"]["self_s"] == pytest.approx(
        (write.start - lazy.start), abs=1e-9)


def test_unforced_lazy_span_ends_with_its_parent():
    tr = Tracer(True)
    with tr.span("partition_scoped_overwrite"):
        with tr.span("merge_upsert", lazy=True):
            pass
        time.sleep(0.01)
    parent, lazy = tr.spans
    assert lazy.end == parent.end


def test_wrapped_calls_are_timed_counted_and_undone():
    class Catalog:
        def get_relation(self, x):
            return x

        def list_schemas(self):
            return []

    tr = Tracer(True)
    tr.count(Catalog, "catalog.calls")
    tr.wrap(Catalog, "get_relation", "catalog.get_relation")
    c = Catalog()
    assert c.get_relation(5) == 5
    c.list_schemas()
    assert tr.calls["catalog.calls"] == 2
    assert tr.by_name()["catalog.get_relation"]["calls"] == 1
    tr.close()
    assert Catalog.__dict__["get_relation"].__name__ == "get_relation"
    assert not hasattr(Catalog.__dict__["get_relation"], "__wrapped__")


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("x"):
        pass
    tr.wrap(Tracer, "close", "never")
    assert tr.spans == [] and tr._undo == []


def test_generators_are_seeded(tmp_path):
    for sub in ("a", "b"):
        gen.corpus(str(tmp_path / sub), np.random.default_rng(7), 60, 20)
        gen.media(str(tmp_path / sub), np.random.default_rng(7), 4)
    for name in ("documents", "embeddings", "media"):
        a = (tmp_path / "a" / f"{name}.parquet").read_bytes()
        assert a == (tmp_path / "b" / f"{name}.parquet").read_bytes()


def test_orders_delta_shares_and_keys():
    rng = np.random.default_rng(3)
    shares = gen.delta_shares(rng)
    assert shares.insert + shares.update + shares.delete == pytest.approx(1)
    tbl = gen.orders_delta(rng, np.arange(1000), 1000, 200, shares, 2, 50)
    ops = np.array(tbl.column("op").to_pylist())
    keys = tbl.column("o_orderkey").to_numpy()
    assert len(set(keys)) == 200
    assert (keys[ops == "I"] >= 1000).all() and (keys[ops != "I"] < 1000).all()
    assert (ops == "D").sum() == round(200 * shares.delete)
    assert tbl.column("seq").to_pylist() == list(range(400, 600))


def test_benchmark_json_names_match_what_the_runs_print():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"),
              encoding="utf-8") as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} \
        == report.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} \
        == report.per_layer_units()
    assert [w["name"] for w in spec["workloads"]] == list(report.OP_NAMES)
    names = [m["name"] for k in ("end_to_end", "per_layer")
             for m in spec[k]] + [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names)) and len(spec["per_layer"]) <= 128
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n)
               for n in names)
