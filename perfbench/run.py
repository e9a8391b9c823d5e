"""Benchmark entry point.

    python3 perfbench/run.py --workload {dashboard,ingest} \\
        --seed N --seconds S --trace {0,1} [--scale {full,tiny}]

Run from the root of a checkout. Generates the workload's inputs from the
seed, sets the engine up, measures and checks every output in a fresh
worker process, and prints one line per metric followed by a final JSON
line:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics from a
separate traced segment (see README.md).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "severless_data_pipeline_aws_spark"
sys.path.insert(0, HERE)

import data  # noqa: E402

DRIVER_HEAP = "2g"
#: a run must end within this many seconds of its start
RUN_LIMIT_S = 175.0
TABLE_SEED = 42

#: ingest fleet: the reference generator's documented scale-up is 50
#: devices reporting every 0.5 s with probability 0.98 (98 records/s), one
#: batched put per tick; the full scale runs 10x its devices (980
#: records/s) and lands 4 ticks per file (see README.md)
SCALES = {
    "full": dict(sf=0.1, devices=500, n_backlog=8, backlog_ticks=8, live_ticks=4),
    "tiny": dict(sf=0.001, devices=50, n_backlog=2, backlog_ticks=2, live_ticks=1),
}
TICK_S = 0.5
REPORT_P = 0.98
UPDATE_SHARE = 0.2

END_TO_END = ("setup_s", "throughput_per_s", "latency_p50_ms", "latency_p90_ms", "peak_rss_mb")
UNITS = {"setup_s": "s", "throughput_per_s": "1/s", "latency_p50_ms": "ms",
         "latency_p90_ms": "ms", "peak_rss_mb": "MB"}
#: each workload's own name, unit and scale for the generic end-to-end metrics
NAMES = {
    "dashboard": {"throughput_per_s": ("qps", "1/s", 1.0)},
    "ingest": {"throughput_per_s": ("drain_records_per_s", "1/s", 1.0),
               "latency_p50_ms": ("freshness_p50_s", "s", 1e-3),
               "latency_p90_ms": ("freshness_p90_s", "s", 1e-3)},
}
MODULES = ("relational", "dashboard", "subqueries", "dedup", "text", "funnel", "similarity")


# ---------------------------------------------------------------------------
# processes


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, pgid) for every process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[int(name)] = (int(fields[1]), int(fields[2]))
    return out


def _resident_bytes(pid: int, java: bool, page: int = os.sysconf("SC_PAGE_SIZE")) -> int:
    """RSS of the JVM; PSS of Python processes, whose forked workers
    share most of their pages (RSS would count those pages once per fork)."""
    if not java:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    with open(f"/proc/{pid}/statm") as fh:
        return int(fh.read().split()[1]) * page


def _tree_rss(root: int) -> dict[str, int]:
    """Resident bytes of a process tree: the root (Python driver), its
    JVM and the Python workers below them. Other descendants are left
    out: a helper the JVM spawns shares the JVM's pages until it execs,
    and would count them twice."""
    kids: dict[int, list[int]] = defaultdict(list)
    for pid, (ppid, _) in _proc_table().items():
        kids[ppid].append(pid)
    out = {"driver": 0, "jvm": 0, "workers": 0}
    todo = [(root, 0)]
    while todo:
        pid, parent = todo.pop()
        todo += [(k, pid) for k in kids.get(pid, [])]
        try:
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
            if pid == root:
                out["driver"] += _resident_bytes(pid, java=False)
            elif comm == "java" and parent == root:
                out["jvm"] += _resident_bytes(pid, java=True)
            elif comm.startswith("python"):
                out["workers"] += _resident_bytes(pid, java=False)
        except OSError:
            continue
    return out


class RssSampler(threading.Thread):
    """Peak resident memory of a process tree over the timed region (from
    ``start_file`` appearing until ``stop_file`` does), sampled from /proc."""

    def __init__(self, pid: int, start_file: str, stop_file: str, interval: float = 0.1) -> None:
        super().__init__(daemon=True)
        self.pid, self.interval = pid, interval
        self.start_file, self.stop_file = start_file, stop_file
        self.peak = 0
        self.at_peak: dict[str, int] = {}
        self.done = threading.Event()

    def run(self) -> None:
        while not self.done.is_set() and not os.path.exists(self.stop_file):
            if os.path.exists(self.start_file):
                parts = _tree_rss(self.pid)
                if sum(parts.values()) > self.peak:
                    self.peak, self.at_peak = sum(parts.values()), parts
            self.done.wait(self.interval)


def _reap_group(pgid: int, timeout: float = 15.0) -> None:
    """Kill whatever is left of a process group and wait until it is gone."""
    deadline = time.time() + timeout
    sig = signal.SIGTERM
    while any(g == pgid for _, g in _proc_table().values()):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        if time.time() > deadline - timeout / 2:
            sig = signal.SIGKILL
        if time.time() > deadline:
            return
        time.sleep(0.1)


def _worker(cfg: dict, work: str, tag: str, deadline: float) -> tuple[dict | None, RssSampler, str]:
    """Run one worker process; returns (result, its memory sampler, log path)."""
    cfg = dict(cfg, result_path=os.path.join(work, f"{tag}.result.json"),
               measuring_marker=os.path.join(work, f"{tag}.measuring"),
               measured_marker=os.path.join(work, f"{tag}.measured"))
    cfg_path = os.path.join(work, f"{tag}.config.json")
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)
    log_path = os.path.join(work, f"{tag}.log")
    tmp = os.path.join(work, "tmp")
    env = dict(
        os.environ,
        PERFBENCH_SPAWN=repr(time.time()),
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_HEAP,
        SPARK_GRAFT_CPUS=str(cfg["cpus"]),
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    with open(log_path, "wb") as log:
        proc = subprocess.Popen([sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
                                stdout=log, stderr=subprocess.STDOUT, env=env, cwd=ROOT,
                                start_new_session=True)
        sampler = RssSampler(proc.pid, cfg["measuring_marker"], cfg["measured_marker"])
        sampler.start()
        try:
            proc.wait(timeout=max(deadline - time.time(), 1.0))
        except subprocess.TimeoutExpired:
            pass
        finally:
            sampler.done.set()
            sampler.join()
            _reap_group(proc.pid)
            proc.wait()
    result = None
    if proc.returncode == 0 and os.path.exists(cfg["result_path"]):
        with open(cfg["result_path"]) as fh:
            result = json.load(fh)
    return result, sampler, log_path


# ---------------------------------------------------------------------------
# inputs


def make_inputs(workload: str, seed: int, seconds: int, scale: dict, work: str) -> dict:
    inputs: dict = {"work_dir": work}
    if workload == "dashboard":
        inputs["tables_dir"] = os.path.join(work, "tables")
        inputs["sizes"] = data.write_tables(inputs["tables_dir"], scale["sf"], TABLE_SEED)
    else:
        file_interval_s = scale["live_ticks"] * TICK_S
        n_live = math.ceil(seconds / file_interval_s)
        inputs["ingest"] = {k: scale[k] for k in ("devices", "n_backlog", "backlog_ticks",
                                                  "live_ticks")}
        inputs["ingest"].update(n_live=n_live, tick_s=TICK_S, report_p=REPORT_P,
                                update_share=UPDATE_SHARE)
        inputs["sizes"] = {
            "devices": scale["devices"],
            "backlog_ticks": scale["n_backlog"] * scale["backlog_ticks"],
            "live_ticks": n_live * scale["live_ticks"],
            "file_interval_s": file_interval_s,
            "update_share": UPDATE_SHARE,
            "offered_records_per_s": scale["devices"] * REPORT_P / TICK_S,
        }
    return inputs


# ---------------------------------------------------------------------------
# per-layer report


def _per_op(total: float, n: int) -> float:
    return total / n if n else 0.0


def per_layer(res: dict, untraced: list[dict], traced: dict) -> dict[str, tuple[float, str]]:
    """Per-layer metrics of the traced segment, each ``(value, unit)``."""
    spans = [s for s in res.get("spans", []) if s["end"] is not None]
    by: dict[str, list[dict]] = defaultdict(list)
    for s in spans:
        by[s["name"]].append(s)

    def ms(s):
        return (s["end"] - s["start"]) / 1e6

    def total(name):
        return sum(ms(s) for s in by[name])

    ops = by["operation"]
    n = len(ops)
    exec_spans = by["spark.exec"]
    rows = res.get("rows_out", {})
    m: dict[str, tuple[float, str]] = {
        "session.get_spark_s": (res["setup"]["get_spark_s"], "s"),
        "registry.load_all_s": (res["setup"]["load_all_s"], "s"),
        "warmup_s": (res["setup"]["warmup_s"], "s"),
        "io.load_table_ms": (_per_op(total("io.load_table"), n), "ms"),
        "io.load_table_calls": (_per_op(len(by["io.load_table"]), n), "count"),
        "operators.build_ms": (_per_op(total("operators.build"), n), "ms"),
        "spark.plan_ms": (_per_op(total("spark.plan"), n), "ms"),
        "spark.exec_ms": (_per_op(total("spark.exec"), n), "ms"),
        "rows_out": (_per_op(sum(rows.get(s["op"], 0) for s in ops), n), "count"),
    }
    for key in ("jobs", "stages", "tasks", "failed_tasks"):
        m[f"spark.{key}"] = (_per_op(sum(s.get(key, 0) for s in exec_spans), n), "count")
    for key in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        m[f"spark.{key}"] = (_per_op(sum(s.get(key, 0) for s in exec_spans), n), "bytes")
    for mod in MODULES:
        mine = [s for s in exec_spans if s.get("module") == mod]
        m[f"operators.{mod}.exec_ms"] = (_per_op(sum(ms(s) for s in mine), len(mine)), "ms")
    udf = [s for s in exec_spans if s.get("python_udf")]
    m["functions.python_udf_ms"] = (_per_op(sum(ms(s) for s in udf), len(udf)), "ms")
    cache = by["cache.get_or_build"]
    hits = [s for s in cache if s.get("hit")]
    builds = [s for s in cache if not s.get("hit")]
    m["cache.hit_ratio"] = (_per_op(len(hits), len(cache)), "ratio")
    m["cache.hit_ms"] = (_per_op(sum(ms(s) for s in hits), len(hits)), "ms")
    m["cache.build_ms"] = (_per_op(sum(ms(s) for s in builds), len(builds)), "ms")
    batches = by["streaming.batch"]
    nb = len(batches)
    for key in ("source_ms", "add_batch_ms", "wal_commit_ms"):
        m[f"streaming.{key}"] = (_per_op(sum(s[key] for s in batches), nb), "ms")
    m["streaming.batches"] = (float(nb), "count")
    m["streaming.rows_per_batch"] = (_per_op(sum(s["rows"] for s in batches), nb), "count")
    m["streaming.backlog_files_max"] = (float(traced.get("backlog_files_max", 0)), "count")
    m["streaming.snapshot_bytes_end"] = (float(traced.get("snapshot_bytes_end", 0)), "bytes")
    written = sum(s["snapshot_bytes"] for s in batches)
    m["streaming.write_amplification"] = (_per_op(written, traced.get("input_bytes", 0)), "ratio")
    m["generator.lateness_ms_max"] = (float(traced.get("generator_lateness_ms_max", 0.0)), "ms")
    # the split is taken over calls that bypass the cache (the dashboard's
    # direct panels): a hit builds nothing
    direct = {s["id"] for s in ops} - {s["parent"] for s in cache}

    def direct_ms(name):
        return sum(ms(s) for s in by[name] if s["parent"] in direct)

    op_ms = sum(ms(s) for s in ops if s["id"] in direct)
    overhead = direct_ms("operators.build") + direct_ms("spark.plan")
    m["split.build_plan_share"] = (_per_op(overhead, op_ms), "ratio")
    m["split.exec_share"] = (_per_op(direct_ms("spark.exec"), op_ms), "ratio")
    base = statistics.mean(u["throughput_per_s"] for u in untraced)
    m["trace.overhead_pct"] = (100.0 * _per_op(base - traced["throughput_per_s"], base), "%")
    m["trace.spans"] = (float(len(spans)), "count")
    return m


# ---------------------------------------------------------------------------


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("dashboard", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=tuple(SCALES), default="full")
    args = ap.parse_args(argv)
    started = time.time()
    # a kill unwinds through the finally blocks that reap the worker
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2

    import pyspark

    scale = SCALES[args.scale]
    bench_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(bench_dir, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        inputs = make_inputs(args.workload, args.seed, args.seconds, scale, work)
        cpus = len(os.sched_getaffinity(0))
        cfg = dict(
            root=ROOT, workload=args.workload, seed=args.seed, seconds=args.seconds,
            trace=bool(args.trace), cpus=cpus, inputs=inputs,
            trace_path=os.path.join(bench_dir, f"trace-{args.workload}-{args.seed}.json"),
            spark_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions":
                    f"-Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch -XX:-UsePerfData "
                    f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            },
        )
        res, rss, log = _worker(cfg, work, "main", started + RUN_LIMIT_S)
        if res is None or "check" not in res:
            return _fail(log)
        segments = [res[k] for k in ("untraced", "traced", "untraced_after") if k in res]
        attempted = sum(s["attempted"] for s in segments)
        failed = sum(s["failed"] for s in segments) + res["check"]["wrong"]
        un = res["untraced"]
        heap = res["heap"]
        e2e = {
            "setup_s": res["setup"]["setup_s"],
            "throughput_per_s": un["throughput_per_s"],
            "latency_p50_ms": un["latency_p50_ms"],
            "latency_p90_ms": un["latency_p90_ms"],
            # the heap is fixed and pre-touched, so the JVM's resident size
            # holds all of it; count the heap by what survives a collection
            "peak_rss_mb": (rss.peak - heap["committed"] + heap["retained"]) / 2**20,
        }
        settings = dict(
            workload=args.workload, seed=args.seed, seconds=args.seconds, scale=args.scale,
            master=f"local[{cpus}]", driver_heap=DRIVER_HEAP, pyspark=pyspark.__version__,
            setup=res["setup"], inputs=inputs["sizes"], untraced=un,
            peak_rss_mb_parts=dict({k: v / 2**20 for k, v in rss.at_peak.items()},
                                   heap_committed=heap["committed"] / 2**20,
                                   heap_retained=heap["retained"] / 2**20),
            failures=res["check"]["failures"],
        )
        print("settings " + json.dumps(settings, sort_keys=True))
        named = NAMES[args.workload]
        for key in END_TO_END:
            name, unit, factor = named.get(key, (key, UNITS[key], 1.0))
            print(f"{args.workload}.{name} {e2e[key] * factor:.6g} {unit}")
        print(f"{args.workload}.error_rate {failed / attempted:.6g} ratio")
        if args.trace:
            layer = per_layer(res, [un, res["untraced_after"]], res["traced"])
            for name, (value, unit) in layer.items():
                print(f"{args.workload}.{name} {value:.6g} {unit}")
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
        else:
            metrics = {k: {"value": e2e[k], "unit": UNITS[k]} for k in END_TO_END}
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _fail(log_path: str) -> int:
    print(f"perfbench: worker failed; last lines of {os.path.basename(log_path)}:",
          file=sys.stderr)
    with open(log_path, errors="replace") as fh:
        sys.stderr.write("".join(fh.readlines()[-40:]))
    return 1


if __name__ == "__main__":
    sys.exit(main())
