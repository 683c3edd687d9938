"""Closed-loop benchmark of the engine's registered queries.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all        # every workload, both modes

One client thread issues ``queries()[name](spark, dir)`` and materialises
the result with the ``noop`` sink, in a seeded order, for a fixed number
of whole rounds: ``--seconds`` divided by the workload's nominal round
time. Before that, one untimed warm-up pass collects every query and
hash-checks it against its DuckDB ``oracle_sql()`` twin.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the same
loop in a session with the event log on, tracing every query, and
prints the per-layer metrics. ``--workload all`` runs both for every
workload and reports the tracing overhead, which compares the two. The
last stdout line is ``{"correct", "attempted", "failed", "metrics"}``;
the line before it is the run record (host weather, per-query figures,
findings). Inputs and scratch live under ``.perfbench/`` in the
checkout; see perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import random
import shutil
import subprocess
import sys
import time
import traceback
from collections import Counter
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import spans  # noqa: E402

#: Base scale factor: the analytics tables, one composites copy, and the
#: unit the scale blowup multiplies. The base is the engine's committed
#: test tables (content seed 42). The run's --seed sets the issue order
#: and the key offsets of the composites copies and the scale blowup, so
#: runs of different seeds do the same work on differently keyed data
#: (the iteration counts of the loop composites depend on the content,
#: not on the keys).
SF = "0.01"
SCALE_REPLICAS = 10
#: A query window with more steal than this is flagged in the record.
HIGH_STEAL = 0.10
#: Seeds whose generated inputs stay cached under .perfbench/data (a
#: scale blowup is 12 MB).
KEEP_SEEDS = 12


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    #: "shared": every round reads the same tables; "per_round": round k
    #: reads its own key-shifted copy; "blowup": a 10x key-shifted copy.
    inputs: str
    #: Nominal seconds of one round on a 4-core host. A run measures
    #: round(--seconds / round_s) rounds, at least one, whatever the
    #: host's speed, so every run of a workload has the same sample
    #: count and the tail is always the same order statistic.
    round_s: float

    def rounds(self, seconds: float) -> int:
        return max(1, round(seconds / self.round_s))


#: Why each workload exists is in README.md and BENCHMARK.json.
WORKLOADS = {
    "analytics": Workload(
        (
            # paper ETL: staging writes beside reads
            "s1_csv_scan", "s2_sqlite_ingest",
            # filter, group-by, window, top-k
            "p2_filter_eq", "a2_groupby_sum", "w1_cumsum", "o2_topk",
            # wrangling and SIRD
            "wrangle_clean_complete", "m3_param_series", "x1_sird_sim",
            "covid_wave_peaks",
            # relational spine
            "q1_pricing_summary", "q3_top_orders", "j6_asof_join",
        ),
        "shared",
        5.0,
    ),
    "composites": Workload(
        (
            # one query per loop protocol: connected components, beam
            # hops, Lloyd rounds, Lloyd + IVF probe, k-core peeling,
            # global ntile
            "pipe_curate_corpus", "ann_graph_greedy", "emb_kmeans_lloyd",
            "ann_ivf_kmeans_topk", "graph_kcore", "rfm_segments",
        ),
        "per_round",
        10.0,
    ),
    "scale": Workload(
        (
            "q3_top_orders", "q9_product_profit", "q21_suppliers_waiting",
            "j6_asof_join", "dedup_exact", "dedup_minhash_lsh",
            "dedup_substring_strip", "text_perplexity", "emb_hard_negatives",
            "x1_sird_sim", "x2_sird_transfer",
        ),
        "blowup",
        10.0,
    ),
}


class Inputs:
    """Input directories of one workload. Analytics reads the committed
    base tables; the key-shifted copies are generated on first use under
    .perfbench/data/<generator hash>, so a change to the generator or the
    base tables never reuses stale copies. What a run verifies on (the
    analytics tables, the composites warm-up copy) does not depend on the
    seed, so its oracle hashes are computed once per checkout; the
    seed-dependent inputs of the KEEP_SEEDS most recent seeds stay
    cached."""

    def __init__(self, workload: str, seed: int):
        self.kind = WORKLOADS[workload].inputs
        self.seed = seed
        self.root = os.path.join(WORK, "data", datagen.code_hash())
        self._base = None
        self.manifests: dict[str, dict] = {}

    def base(self):
        if self._base is None:
            self._base = datagen.read_base(SF)
        return self._base

    def _dir(self, name: str, make) -> str:
        d = os.path.join(self.root, name)
        self.manifests[os.path.relpath(d, ROOT)] = datagen.materialize(d, make)
        return d

    def manifest(self, d: str) -> dict:
        """Row counts and content hashes of an input directory, keyed in
        the record by its path in the checkout."""
        return self.manifests[os.path.relpath(d, ROOT)]

    def for_round(self, k: int) -> str:
        """Directory read by round ``k``; ``k = 0`` is the warm-up pass."""
        off = datagen.seed_offset(self.seed)
        if self.kind == "shared":
            d = datagen.base_dir(SF)
            if os.path.relpath(d, ROOT) not in self.manifests:
                self.manifests[os.path.relpath(d, ROOT)] = datagen.manifest(self.base())
            return d
        if self.kind == "blowup":
            return self._dir(
                f"s{self.seed}/x{SCALE_REPLICAS}",
                lambda: datagen.key_shift(self.base(), list(range(off, off + SCALE_REPLICAS))),
            )
        if k == 0:
            return self._dir("copy0", lambda: datagen.key_shift(self.base(), [0]))
        # Replica indices past 16 would reach into the next seed's range.
        i = off + (k - 1) % 16
        return self._dir(f"s{self.seed}/copy{k}", lambda: datagen.key_shift(self.base(), [i]))

    def prune(self) -> None:
        """Keep the seed-dependent inputs of the KEEP_SEEDS most recently
        used seeds, and drop those of other generator versions."""
        parent = os.path.dirname(self.root)
        if not os.path.isdir(parent):
            return
        for d in os.listdir(parent):
            if os.path.join(parent, d) != self.root:
                shutil.rmtree(os.path.join(parent, d), ignore_errors=True)
        if not os.path.isdir(self.root):
            return
        mine = os.path.join(self.root, f"s{self.seed}")
        if os.path.isdir(mine):
            os.utime(mine)
        seeds = sorted(
            (os.path.join(self.root, d) for d in os.listdir(self.root) if d.startswith("s")),
            key=os.path.getmtime,
            reverse=True,
        )
        for d in seeds[KEEP_SEEDS:]:
            shutil.rmtree(d, ignore_errors=True)


# --- verification --------------------------------------------------------------


def result_hash(pdf) -> str:
    """Hash of a collected result under the oracle harness's
    canonicalisation: sorted column names, then sorted canonical rows."""
    from tests.oracle_check import _rows

    h = hashlib.sha256("\x1f".join(sorted(pdf.columns)).encode())
    h.update(f"\n{len(pdf)}\n".encode())
    for row in _rows(pdf):
        h.update(row.encode())
        h.update(b"\n")
    return h.hexdigest()


class Oracle:
    """Expected result hashes from DuckDB, cached per (input content,
    oracle SQL): the key hashes the input's manifest and the SQL text, so
    new inputs or an edited oracle are never compared against a stale
    hash."""

    def __init__(self):
        from covid_engineering_spark.queries import oracles

        self.sql = oracles()
        self.path = os.path.join(WORK, "oracle.json")
        try:
            with open(self.path) as f:
                self.cache = json.load(f)
        except FileNotFoundError:
            self.cache = {}
        self.seconds = 0.0

    def key(self, name: str, manifest: dict) -> str:
        h = hashlib.sha256(json.dumps(manifest, sort_keys=True).encode())
        h.update(b"\0" + self.sql[name].encode())
        return h.hexdigest()[:32]

    def expected(self, name: str, data_dir: str, manifest: dict) -> str:
        key = self.key(name, manifest)
        if key not in self.cache:
            from tests.oracle_check import duck_con

            t = time.perf_counter()
            con = duck_con(data_dir)
            try:
                self.cache[key] = result_hash(con.execute(self.sql[name]).arrow().to_pandas())
            finally:
                con.close()
            self.seconds += time.perf_counter() - t
        return self.cache[key]

    def save(self) -> None:
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.cache, f, indent=1, sort_keys=True)
        os.replace(tmp, self.path)


# --- the loop ------------------------------------------------------------------


class Session:
    """The engine session plus the handles the trace reads from Spark."""

    def __init__(self, traced: bool):
        from covid_engineering_spark import get_spark

        extra = None
        self.log_dir = os.path.join(WORK, "tmp", "eventlog")
        if traced:
            os.makedirs(self.log_dir, exist_ok=True)
            extra = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.log_dir,
                "spark.eventLog.compress": "false",
            }
        self.cores = os.cpu_count() or 1
        self.master = f"local[{self.cores}]"
        self.spark = get_spark(master=self.master, extra_conf=extra)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.sc = self.spark.sparkContext
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        self.closed = False

    def persistent_rdds(self) -> set[int]:
        return {int(k) for k in self.sc._jsc.getPersistentRDDs().keySet()}

    def storage_mb(self) -> float:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 2**20

    def close(self) -> None:
        """Stop Spark (which flushes and closes the event log), disconnect
        py4j (so no late call reaches a JVM that is gone), then end the
        gateway JVM and wait for it: it exits when its stdin closes."""
        from pyspark import SparkContext

        if self.closed:
            return
        self.closed = True
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def versions(self) -> dict:
        return {
            "spark": self.spark.version,
            "java": str(self.spark._jvm.java.lang.System.getProperty("java.version")),
            "python": platform.python_version(),
        }


def _sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Runner:
    def __init__(self, workload: str, seed: int, sess: Session, inputs: Inputs):
        from __spark_entry__ import queries

        self.mix = WORKLOADS[workload].queries
        self.seed = seed
        self.sess = sess
        self.inputs = inputs
        self.q = queries()
        self.samples: list[dict] = []  # measured, untraced
        self.traced: list[dict] = []  # traced executions with spans
        self.failures: dict[str, str] = {}
        self.attempted = 0
        self.failed = 0

    def fail(self, name: str, why: str) -> None:
        self.failed += 1
        self.failures.setdefault(name, why[:300])

    def order(self, k: int) -> list[str]:
        names = list(self.mix)
        random.Random(self.seed * 1_000_003 + k).shuffle(names)
        return names

    def warm_up(self, oracle: Oracle) -> float:
        """Untimed pass: collect each query once and check it against its
        oracle. Returns the Spark-side seconds (oracle time excluded)."""
        d = self.inputs.for_round(0)
        spent = 0.0
        self.warm_s: dict[str, float] = {}
        for name in self.order(0):
            self.attempted += 1
            t = time.perf_counter()
            try:
                pdf = self.q[name](self.sess.spark, d).toPandas()
            except Exception as ex:  # noqa: BLE001 - every failure is a finding
                self.fail(name, f"raised: {ex!r}")
                traceback.print_exc(file=sys.stderr)
                continue
            finally:
                self.warm_s[name] = time.perf_counter() - t
                spent += self.warm_s[name]
            try:
                want = oracle.expected(name, d, self.inputs.manifest(d))
            except Exception as ex:  # noqa: BLE001
                self.fail(name, f"oracle raised: {ex!r}")
                continue
            if result_hash(pdf) != want:
                self.fail(name, f"hash mismatch vs oracle ({len(pdf)} rows)")
        return spent

    def run_round(self, k: int, traced: bool) -> float:
        """One pass of the mix; returns its wall seconds. In a traced run
        every query is traced."""
        d = self.inputs.for_round(k)
        start = time.perf_counter()
        for i, name in enumerate(self.order(k)):
            self.attempted += 1
            steal0 = spans.cpu_ticks()
            try:
                if traced:
                    rec = self._traced_one(name, d, f"{k}.{i}")
                    dt = rec["query"][1] - rec["query"][0]
                else:
                    t = time.perf_counter()
                    _sink(self.q[name](self.sess.spark, d))
                    dt = time.perf_counter() - t
            except Exception as ex:  # noqa: BLE001 - every failure is a finding
                self.fail(name, f"raised in round {k}: {ex!r}")
                traceback.print_exc(file=sys.stderr)
                continue
            steal = spans.steal_frac(steal0, spans.cpu_ticks())
            if traced:
                rec["steal"] = steal
                self.traced.append(rec)
            else:
                self.samples.append({"round": k, "query": name, "s": dt, "steal": steal})
        return time.perf_counter() - start

    def per_query_p50(self) -> dict[str, float]:
        """Median latency of each query of the mix, traced executions
        included."""
        lat: dict[str, list[float]] = {}
        for s in self.samples:
            lat.setdefault(s["query"], []).append(s["s"])
        for r in self.traced:
            lat.setdefault(r["name"], []).append(r["query"][1] - r["query"][0])
        return {n: spans.median(lat[n]) for n in self.mix if n in lat}

    def _traced_one(self, name: str, d: str, exec_id: str) -> dict:
        """build / plan / exec spans, each phase under its own job group
        so the event log attributes every job, build-time ones included."""
        sc = self.sess.sc
        persisted0 = self.sess.persistent_rdds()
        group = f"pb.{exec_id}."
        t0 = time.time()
        try:
            sc.setJobGroup(group + "build", name)
            df = self.q[name](self.sess.spark, d)
            t1 = time.time()
            sc.setJobGroup(group + "plan", name)
            df._jdf.queryExecution().executedPlan()
            t2 = time.time()
            sc.setJobGroup(group + "exec", name)
            _sink(df)
            t3 = time.time()
        finally:
            sc._jsc.clearJobGroup()
        return {
            "id": exec_id,
            "name": name,
            "query": (t0, t3),
            "build": (t0, t1),
            "plan": (t1, t2),
            "exec": (t2, t3),
            "new_persists": len(self.sess.persistent_rdds() - persisted0),
        }


# --- metrics -------------------------------------------------------------------


def end_to_end(runner: Runner, setup_s: float, rounds_wall: float, peak_mb: float) -> tuple[dict, dict]:
    lat = [s["s"] for s in runner.samples]
    tail_v, tail_p, n = spans.tail(lat)
    return {
        "setup_s": (setup_s, "s"),
        "query_p50_s": (spans.median(lat), "s"),
        "query_tail_s": (tail_v, "s"),
        "queries_per_s": (len(lat) / rounds_wall, "1/s"),
    }, {"tail_percentile": tail_p, "samples": n, "peak_rss_mb": peak_mb}


def overhead_frac(traced: dict[str, float], untraced: dict[str, float]) -> float:
    """Tracing overhead: the traced run's per-query median latencies over
    the untraced run's, summed over the queries both measured, minus one."""
    both = traced.keys() & untraced.keys()
    return sum(traced[n] for n in both) / sum(untraced[n] for n in both) - 1.0


_GROUP_SUMS = {
    "stages": "stages", "tasks": "tasks", "run_ms": "run_ms", "cpu_ns": "cpu_ns",
    "gc_ms": "gc_ms", "sw": "shuffle_write_b", "sr": "shuffle_read_b", "spill": "spill_b",
    "in": "input_b", "out": "output_b", "py_ms": "py_run_ms", "py_stages": "py_stages",
}


def exec_figures(rec: dict, groups: dict) -> dict:
    """One traced execution's raw figures: its phase spans plus the
    event-log sums of the jobs each phase's job group launched."""
    empty = spans.new_group()
    phase = {p: groups.get(f"pb.{rec['id']}.{p}", empty) for p in ("build", "plan", "exec")}
    build_jobs = phase["build"]["jobs"]
    all_jobs = [j for g in phase.values() for j in g["jobs"]]
    fig = {
        "build_s": rec["build"][1] - rec["build"][0],
        "build_self_s": spans.self_time(rec["build"], build_jobs),
        "build_jobs": len(build_jobs),
        "build_job_s": sum(e - s for s, e in build_jobs),
        "plan_s": rec["plan"][1] - rec["plan"][0],
        "exec_s": rec["exec"][1] - rec["exec"][0],
        "jobs": len(all_jobs),
        "job_s": sum(e - s for s, e in all_jobs),
        "job_wall_s": spans.union_length(all_jobs),
        "persists": rec["new_persists"],
    }
    for key, field in _GROUP_SUMS.items():
        fig[key] = sum(g[field] for g in phase.values())
    return fig


def per_layer(runner: Runner, groups: dict, passes: int, host: dict, cache_end: dict) -> dict:
    """Per-layer sums over the traced executions, divided by the number
    of traced passes: each figure is per pass of the mix."""
    acc: Counter = Counter()
    for rec in runner.traced:
        acc.update(exec_figures(rec, groups))
    p = max(passes, 1)
    mb = 2**20
    run_s = acc["run_ms"] / 1000
    return {
        "operators.build_s": (acc["build_s"] / p, "s"),
        "operators.build_self_s": (acc["build_self_s"] / p, "s"),
        "operators.build_jobs": (acc["build_jobs"] / p, "count"),
        "operators.build_job_s": (acc["build_job_s"] / p, "s"),
        "catalyst.plan_s": (acc["plan_s"] / p, "s"),
        "executor.exec_s": (acc["exec_s"] / p, "s"),
        "executor.jobs": (acc["jobs"] / p, "count"),
        "executor.stages": (acc["stages"] / p, "count"),
        "executor.tasks": (acc["tasks"] / p, "count"),
        "executor.s_per_job": (acc["job_s"] / acc["jobs"] if acc["jobs"] else 0.0, "s"),
        "executor.run_s": (run_s / p, "s"),
        "executor.cpu_s": (acc["cpu_ns"] / 1e9 / p, "s"),
        "executor.gc_s": (acc["gc_ms"] / 1000 / p, "s"),
        "executor.core_util": (
            run_s / (acc["job_wall_s"] * runner.sess.cores) if acc["job_wall_s"] else 0.0, "frac"
        ),
        "executor.shuffle_write_mb": (acc["sw"] / mb / p, "MB"),
        "executor.shuffle_read_mb": (acc["sr"] / mb / p, "MB"),
        "executor.spill_mb": (acc["spill"] / mb / p, "MB"),
        "sources.input_mb": (acc["in"] / mb / p, "MB"),
        "sources.output_mb": (acc["out"] / mb / p, "MB"),
        "caching.new_persists": (acc["persists"] / p, "count"),
        **cache_end,
        "pyworker.run_s": (acc["py_ms"] / 1000 / p, "s"),
        "pyworker.stages": (acc["py_stages"] / p, "count"),
        "driver.peak_rss_mb": (host["peak_rss_mb"], "MB"),
        "host.steal_frac": (host["steal_frac"], "frac"),
        "host.loadavg1": (host["loadavg1"], "load"),
    }


def span_coverage(runner: Runner) -> float:
    """Smallest share of a traced query span that its build, plan and exec
    spans cover (1.0 when the phases account for every query)."""
    worst = 1.0
    for rec in runner.traced:
        q = rec["query"]
        covered = spans.union_length([rec["build"], rec["plan"], rec["exec"]])
        worst = min(worst, covered / (q[1] - q[0]) if q[1] > q[0] else 1.0)
    return worst


# --- entry ---------------------------------------------------------------------


def _isolate() -> None:
    """Keep every file Spark, the engine and pyspark write inside the
    checkout: scratch, shuffle files, staging and spark-warehouse."""
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "cwd"))
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.chdir(os.path.join(tmp, "cwd"))


def run(workload: str, seed: int, seconds: float, traced: bool) -> dict:
    if not os.path.isfile(os.path.join(ROOT, "covid_engineering_spark", "__init__.py")):
        raise SystemExit(f"engine sources not found under {ROOT}")
    sys.path.insert(0, ROOT)
    import covid_engineering_spark  # noqa: F401 - fail before any set-up

    inputs = Inputs(workload, seed)
    t = time.perf_counter()
    inputs.for_round(0)
    gen_s = time.perf_counter() - t
    _isolate()
    host0 = {"loadavg1": spans.loadavg1(), "ticks": spans.cpu_ticks()}

    t = time.perf_counter()
    sess = Session(traced)
    session_s = time.perf_counter() - t
    try:
        out = _measure(workload, seed, seconds, traced, inputs, sess, session_s, gen_s, host0)
    finally:
        sess.close()
        shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)
    inputs.prune()
    return out


def _measure(workload, seed, seconds, traced, inputs, sess, session_s, gen_s, host0) -> dict:
    runner = Runner(workload, seed, sess, inputs)
    oracle = Oracle()
    warm_s = runner.warm_up(oracle)
    oracle.save()
    setup_s = session_s + warm_s

    # Composites generate the next round's copy outside its timed window.
    round_s = []
    for k in range(1, WORKLOADS[workload].rounds(seconds) + 1):
        inputs.for_round(k)
        round_s.append(runner.run_round(k, traced))

    peak_mb = spans.vmhwm_mb(sess.jvm_pid) + spans.vmhwm_mb()
    record = {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "trace": int(traced),
        "host": {
            "nproc": sess.cores,
            "master": sess.master,
            **sess.versions(),
            "loadavg1_start": host0["loadavg1"],
            "loadavg1_end": spans.loadavg1(),
            "steal_frac_run": spans.steal_frac(host0["ticks"], spans.cpu_ticks()),
        },
        "inputs": inputs.manifests,
        "generate_s": gen_s,
        "oracle_s": oracle.seconds,
        "session_s": session_s,
        "warmup_s": warm_s,
        "warmup_per_query_s": runner.warm_s,
        "rounds": len(round_s),
        "round_s": round_s,
        "per_query_p50_s": runner.per_query_p50(),
        "failures": runner.failures,
    }
    windows = [(s["query"], s["steal"]) for s in runner.samples]
    windows += [(r["name"], r["steal"]) for r in runner.traced]
    record["high_steal_windows"] = [
        {"query": name, "steal": steal} for name, steal in windows if steal > HIGH_STEAL
    ]
    if traced:
        cache_end = {
            "caching.storage_mb": (sess.storage_mb(), "MB"),
            "caching.live_rdds_end": (len(sess.persistent_rdds()), "count"),
        }
        sess.close()
        groups = spans.parse_event_log(spans.event_log_lines(sess.log_dir))
        host = {
            "peak_rss_mb": peak_mb,
            "steal_frac": spans.steal_frac(host0["ticks"], spans.cpu_ticks()),
            "loadavg1": spans.loadavg1(),
        }
        metrics = per_layer(runner, groups, len(round_s), host, cache_end)
        record["span_coverage_min"] = span_coverage(runner)
        _write_spans(runner, groups, workload, seed)
    else:
        metrics, extra = end_to_end(runner, setup_s, sum(round_s), peak_mb)
        record.update(extra)
    return {"record": record, "metrics": metrics, "attempted": runner.attempted, "failed": runner.failed}


def _write_spans(runner: Runner, groups: dict, workload: str, seed: int) -> None:
    """Write the traced spans once, at the end: query -> build/plan/exec,
    each job a child of the phase whose job group launched it."""
    out = []
    for rec in runner.traced:
        sid = rec["id"]
        out.append({
            "id": sid, "name": "query", "query": rec["name"], "span": rec["query"],
            "parent": None, "figures": exec_figures(rec, groups),
        })
        for p in ("build", "plan", "exec"):
            out.append({"id": sid, "name": p, "span": rec[p], "parent": "query"})
            for j in groups.get(f"pb.{sid}.{p}", {}).get("jobs", []):
                out.append({"id": sid, "name": "job", "span": j, "parent": p})
    out_dir = os.path.join(WORK, "out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"trace-{workload}-s{seed}.json"), "w") as f:
        json.dump(out, f)


def run_child(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, dict]:
    """One run in a child process; returns its (record, result) lines."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed} trace {trace}: exit {proc.returncode}")
    return json.loads(lines[-2]), json.loads(lines[-1])


def run_all(seed: int, seconds: float) -> int:
    """Every workload untraced, then traced, one child process each;
    prints every metric by name with its unit, and the tracing overhead
    of the traced run over the untraced one."""
    status = 0
    for workload in WORKLOADS:
        try:
            plain, result = run_child(workload, seed, seconds, 0)
            record, traced = run_child(workload, seed, seconds, 1)
        except RuntimeError as ex:
            print(ex)
            status = 1
            continue
        rows = [(n, m["value"], m["unit"]) for n, m in result["metrics"].items()]
        rows += [
            ("failed_frac", result["failed"] / result["attempted"], "frac"),
            ("peak_rss_mb", plain["peak_rss_mb"], "MB"),
            ("query_tail_pct", plain["tail_percentile"], "%"),
            ("query_samples", plain["samples"], "count"),
        ]
        rows += [(n, m["value"], m["unit"]) for n, m in traced["metrics"].items()]
        overhead = overhead_frac(record["per_query_p50_s"], plain["per_query_p50_s"])
        rows.append(("trace.overhead_frac", overhead, "frac"))
        for name, value, unit in rows:
            print(f"{workload:<11} {name:<26} {value:>12.4f} {unit}")
        for name, why in {**plain["failures"], **record["failures"]}.items():
            print(f"{workload:<11} finding: {name}: {why}")
    return status


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args.seed, args.seconds)
    out = run(args.workload, args.seed, args.seconds, bool(args.trace))
    for name in out["metrics"]:
        spans.check_name(name)
    failed = out["failed"]
    print(json.dumps(out["record"], default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": out["attempted"],
        "failed": failed,
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in out["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
