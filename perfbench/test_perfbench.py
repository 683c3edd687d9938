"""Self-tests for the benchmark's own arithmetic and inputs.

    python3 -m pytest perfbench -q -p no:cacheprovider

No Spark session is started: the event-log test reads a log recorded
from sf0.001 queries (fixtures/eventlog_sf0001.jsonl; the script
beside it re-records it).
"""

from __future__ import annotations

import json
import os
import sys
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "eventlog_sf0001.jsonl")


# --- tail percentile -----------------------------------------------------------


def test_tail_keeps_ten_samples_beyond():
    values = [float(v) for v in range(1, 31)]  # 30 samples
    value, pct, n = spans.tail(values)
    assert n == 30
    assert value == 20.0
    assert sum(v > value for v in values) == 10
    assert pct == pytest.approx(100 * 20 / 30)


def test_tail_is_order_independent_and_exact_at_twentyone():
    values = [float(v) for v in range(21, 0, -1)]
    value, pct, n = spans.tail(values)
    assert (value, n) == (11.0, 21)  # the median, with 10 samples beyond
    assert pct == pytest.approx(100 * 11 / 21)


def test_tail_with_too_few_samples_falls_back_to_max():
    assert spans.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    # eleven samples: the statistic with ten beyond is the minimum, no tail
    assert spans.tail([float(v) for v in range(11)]) == (10.0, 100.0, 11)
    assert spans.tail([float(v) for v in range(20)]) == (9.0, 50.0, 20)
    with pytest.raises(ValueError):
        spans.tail([])


def test_median():
    assert spans.median([3.0, 1.0, 2.0]) == 2.0
    assert spans.median([4.0, 1.0, 2.0, 3.0]) == 2.5


# --- self time -------------------------------------------------------------------


def test_self_time_with_overlapping_children():
    # children overlap each other (1-4, 3-6) and stick out of the span on
    # both sides (-2-0.5, 8-12): covered = 0.5 + 5 + 2 = 7.5 of 10
    children = [(1.0, 4.0), (3.0, 6.0), (8.0, 12.0), (-2.0, 0.5)]
    assert spans.self_time((0.0, 10.0), children) == pytest.approx(2.5)


def test_self_time_edge_cases():
    assert spans.self_time((0.0, 10.0), []) == 10.0
    assert spans.self_time((0.0, 10.0), [(10.0, 11.0), (-1.0, 0.0)]) == 10.0
    assert spans.self_time((0.0, 10.0), [(2.0, 3.0), (2.0, 3.0)]) == pytest.approx(9.0)
    assert spans.self_time((0.0, 10.0), [(-5.0, 15.0)]) == 0.0


def test_union_length_nested_intervals():
    assert spans.union_length([(0.0, 10.0), (2.0, 3.0), (9.0, 11.0)]) == 11.0


# --- event-log parser ------------------------------------------------------------


@pytest.fixture(scope="module")
def events():
    with open(FIXTURE) as f:
        return [json.loads(line) for line in f]


def test_parser_attributes_every_job_and_task_to_its_group(events):
    groups = spans.parse_event_log(json.dumps(e) for e in events)
    job_groups = {
        e["Job ID"]: e["Properties"].get("spark.jobGroup.id")
        for e in events
        if e["Event"] == "SparkListenerJobStart"
    }
    for g, agg in groups.items():
        assert len(agg["jobs"]) == sum(v == g for v in job_groups.values())
    stage_group = {
        e["Stage Info"]["Stage ID"]: e["Properties"].get("spark.jobGroup.id")
        for e in events
        if e["Event"] == "SparkListenerStageSubmitted"
    }
    tasks = [e for e in events if e["Event"] == "SparkListenerTaskEnd"]
    assert sum(a["tasks"] for a in groups.values()) == len(tasks)
    for g, agg in groups.items():
        mine = [t for t in tasks if stage_group[t["Stage ID"]] == g]
        assert agg["run_ms"] == sum(t["Task Metrics"]["Executor Run Time"] for t in mine)
        assert agg["stages"] == sum(v == g for v in stage_group.values())


def test_parser_sees_build_jobs_shuffle_and_python_stages(events):
    groups = spans.parse_event_log(json.dumps(e) for e in events)
    # q1 shuffles for its aggregate; the SIRD simulation runs pandas UDFs.
    q1 = groups["pb.q1.exec"]
    assert q1["jobs"] and q1["tasks"] > 0
    assert q1["shuffle_write_b"] > 0 and q1["shuffle_read_b"] > 0
    sird = [g for name, g in groups.items() if name and name.startswith("pb.x1.")]
    assert sum(g["py_stages"] for g in sird) > 0
    assert sum(g["py_run_ms"] for g in sird) > 0
    for agg in groups.values():
        for start, end in agg["jobs"]:
            assert end >= start > 1e9  # epoch seconds


def test_parser_reads_rolling_layout(tmp_path, events):
    d = tmp_path / "eventlog_v2_app-1"
    d.mkdir()
    half = len(events) // 2
    (d / "events_2_app-1").write_text("".join(json.dumps(e) + "\n" for e in events[half:]))
    (d / "events_1_app-1").write_text("".join(json.dumps(e) + "\n" for e in events[:half]))
    (d / "appstatus_app-1").write_text("")
    rolled = spans.parse_event_log(spans.event_log_lines(str(tmp_path)))
    assert rolled == spans.parse_event_log(json.dumps(e) for e in events)


# --- metric names ----------------------------------------------------------------


@pytest.mark.parametrize("bad", ["", ".x", "-x", "a b", "a/b", "é", "x" * 65, "a:b"])
def test_metric_name_charset_rejects(bad):
    with pytest.raises(ValueError):
        spans.check_name(bad)


def test_emitted_metrics_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    runner = SimpleNamespace(
        traced=[],
        samples=[{"s": 1.0}, {"s": 2.0}],
        sess=SimpleNamespace(cores=4),
    )
    e2e, _ = run.end_to_end(runner, 1.0, 3.0, 100.0)
    host = {"peak_rss_mb": 1.0, "steal_frac": 0.0, "loadavg1": 0.0}
    layers = run.per_layer(runner, {}, 1, host, {
        "caching.storage_mb": (0.0, "MB"),
        "caching.live_rdds_end": (0, "count"),
    })
    for emitted, declared in ((e2e, spec["end_to_end"]), (layers, spec["per_layer"])):
        assert {m["name"]: m["unit"] for m in declared} == {n: u for n, (_, u) in emitted.items()}
        for name in emitted:
            assert spans.check_name(name) == name
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)


# --- seeded inputs ---------------------------------------------------------------


@pytest.fixture(scope="module")
def base():
    return datagen.read_base("0.001")


def test_base_tables_are_the_committed_test_tables(base):
    assert set(base) == set(datagen.TABLES)
    assert base["lineitem"].num_rows == 6000
    assert str(base["events"].schema.field("ts").type) == "timestamp[us]"


def test_key_shift_reproduces_and_shifts_keys_by_seed(base):
    off3, off4 = datagen.seed_offset(3), datagen.seed_offset(4)
    assert off3 != off4
    one = datagen.key_shift(base, [off3])
    again = datagen.key_shift(datagen.read_base("0.001"), [off3])
    assert datagen.manifest(one) == datagen.manifest(again)
    other = datagen.key_shift(base, [off4])
    assert datagen.manifest(one)["lineitem"]["hash"] != datagen.manifest(other)["lineitem"]["hash"]
    for table, col, stride in (
        ("orders", "o_orderkey", 10**9),
        ("lineitem", "l_partkey", 10**7),
        ("events", "user_id", 10**7),
        ("documents", "doc_id", 10**9),
    ):
        lo = min(base[table][col].to_pylist())
        assert min(one[table][col].to_pylist()) == lo + off3 * stride
        assert min(other[table][col].to_pylist()) == lo + off4 * stride
    assert one["documents"]["text"][0].as_py().split()[0].endswith(f"r{off3}")
    for name in datagen.TABLES:
        assert one[name].schema == base[name].schema


def test_blowup_multiplies_rows_and_keeps_joins(base):
    big = datagen.key_shift(base, list(range(10, 20)))
    for name in datagen.TABLES:
        factor = 1 if name in ("region", "nation") else 10
        assert big[name].num_rows == factor * base[name].num_rows
    orders = set(big["orders"]["o_orderkey"].to_pylist())
    assert set(big["lineitem"]["l_orderkey"].to_pylist()) <= orders
    custs = set(big["customer"]["c_custkey"].to_pylist())
    assert set(big["orders"]["o_custkey"].to_pylist()) <= custs
    assert len(set(big["embeddings"]["vec_id"].to_pylist())) == big["embeddings"].num_rows
    # as in scale_probe._blowup, names are copied: every name now repeats
    # once per replica while the keys stay unique
    names = big["supplier"]["s_name"].to_pylist()
    assert len(set(names)) == base["supplier"].num_rows
    assert len(set(big["supplier"]["s_suppkey"].to_pylist())) == len(names)


def test_generated_inputs_are_keyed_by_generator_version():
    assert len(datagen.code_hash()) == 12
    assert datagen.code_hash() == datagen.code_hash()
    assert os.path.basename(run.Inputs("composites", 1).root) == datagen.code_hash()


# --- run arithmetic -------------------------------------------------------------


def test_round_count_depends_on_seconds_only():
    for w in run.WORKLOADS.values():
        assert w.rounds(0.1) == 1
        assert w.rounds(10) == max(1, round(10 / w.round_s))
    assert run.WORKLOADS["analytics"].rounds(10) == 2


def test_overhead_is_traced_over_untraced_per_query_medians():
    traced = {"a": 1.2, "b": 2.2, "only_traced": 9.0}
    untraced = {"a": 1.0, "b": 2.0, "only_untraced": 9.0}
    assert run.overhead_frac(traced, untraced) == pytest.approx(3.4 / 3.0 - 1.0)


def test_oracle_key_follows_input_content_and_sql():
    oracle = run.Oracle.__new__(run.Oracle)
    oracle.sql = {"q": "SELECT 1", "r": "SELECT 2"}
    man = {"orders": {"rows": 3, "hash": "abc"}}
    key = oracle.key("q", man)
    assert key == oracle.key("q", dict(man))
    assert key != oracle.key("r", man)
    assert key != oracle.key("q", {"orders": {"rows": 3, "hash": "abd"}})
    oracle.sql["q"] = "SELECT 1 AS x"
    assert key != oracle.key("q", man)
