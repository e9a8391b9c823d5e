"""The benchmark's workloads: dashboard and ingest.

Each workload object is built inside a worker process that already holds
a SparkSession and the loaded registry. ``warmup()`` runs before timing
and counts in ``setup_s``; ``measure(seconds)`` is the timed region;
``check()`` verifies every output afterwards, outside the timed region.
One client thread drives each workload.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import time

import numpy as np

import data
from spans import Tracer

#: Python execution nodes in a physical plan (Arrow/pandas/row UDFs)
_PY_NODE = re.compile(r"EvalPython|InPandas|InArrow|ArrowPython|PythonUDF")


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    return float(np.percentile(np.asarray(values, dtype=float), q)) if values else 0.0


class Layers:
    """Calls into the package on behalf of a workload, traced or not."""

    def __init__(self, spark, specs, tracer: Tracer) -> None:
        self.spark = spark
        self.specs = specs
        self.tracer = tracer
        self._group = 0

    def module(self, name: str) -> str:
        return self.specs[name].fn.__module__.rsplit(".", 1)[-1]

    def build(self, name: str, data_dir: str):
        with self.tracer.span("operators.build", op=name, module=self.module(name)):
            return self.specs[name].fn(self.spark, data_dir)

    def operation(self, name: str, data_dir: str, action, cache=None):
        """Build ``name`` (through ``cache`` if given), plan it and run
        ``action(df)``; returns the action's result."""
        tr = self.tracer
        if not tr.active:
            df = (cache.get_or_build(name, lambda: self.build(name, data_dir))
                  if cache is not None else self.build(name, data_dir))
            return action(df)
        sc = self.spark.sparkContext
        self._group += 1
        group = f"perfbench-{self._group}"
        sc.setJobGroup(group, name)
        try:
            with tr.span("operation", op=name, module=self.module(name)):
                if cache is not None:
                    with tr.span("cache.get_or_build", op=name) as rec:
                        before = cache.build_count(name)
                        df = cache.get_or_build(name, lambda: self.build(name, data_dir))
                        rec["hit"] = cache.build_count(name) == before
                else:
                    df = self.build(name, data_dir)
                with tr.span("spark.plan", op=name):
                    plan = df._jdf.queryExecution().executedPlan().toString()
                with tr.span("spark.exec", op=name, module=self.module(name),
                             python_udf=bool(_PY_NODE.search(plan))) as rec:
                    out = action(df)
                rec.update(self._stage_counters(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out

    def _stage_counters(self, group: str) -> dict:
        """Jobs, stages, tasks, shuffle and spill bytes of one job group."""
        sc = self.spark.sparkContext
        st = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        gw = sc._gateway
        c = dict(jobs=0, stages=0, tasks=0, failed_tasks=0,
                 shuffle_read_bytes=0, shuffle_write_bytes=0, spill_bytes=0)
        for job in st.getJobIdsForGroup(group):
            info = st.getJobInfo(job)
            if info is None:
                continue
            c["jobs"] += 1
            for sid in info.stageIds:
                seq = store.stageData(sid, False, gw.jvm.java.util.ArrayList(), False,
                                      gw.new_array(gw.jvm.double, 0))
                for i in range(seq.size()):
                    d = seq.apply(i)
                    if d.status().toString() == "SKIPPED":
                        continue
                    c["stages"] += 1
                    c["tasks"] += d.numCompleteTasks()
                    c["failed_tasks"] += d.numFailedTasks()
                    c["shuffle_read_bytes"] += d.shuffleReadBytes()
                    c["shuffle_write_bytes"] += d.shuffleWriteBytes()
                    c["spill_bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
        return c


class _Collected:
    """Adapter: hands an already-collected frame to ``tests.oracle.compare``."""

    def __init__(self, pdf) -> None:
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


def _digest(pdf) -> str:
    import pandas as pd

    h = hashlib.sha1(repr(list(zip(pdf.columns, map(str, pdf.dtypes)))).encode())
    h.update(pd.util.hash_pandas_object(pdf, index=False).values.tobytes())
    return h.hexdigest()


def _oracle_check(items, con, specs, failures: list) -> int:
    """Compare each ``(op, pdf)`` with the op's DuckDB oracle; identical
    frames are compared once. Returns the number of mismatching items."""
    from tests.oracle import compare

    verdict: dict[tuple[str, str], bool] = {}
    bad = 0
    for op, pdf in items:
        key = (op, _digest(pdf))
        if key not in verdict:
            errs = compare(_Collected(pdf), con, specs[op].oracle)
            verdict[key] = not errs
            if errs:
                failures.append(f"{op}: {errs[:3]}")
        bad += not verdict[key]
    return bad


# ---------------------------------------------------------------------------
# dashboard


class Dashboard:
    """Closed loop, one client, re-rendering one dashboard page.

    A render requests every panel once, in an order the seed shuffles,
    and collects each to pandas as the reference dashboard reads its
    data. The reference memoizes only its source read, a scan of the 500
    most recent items, for 60 s and recomputes every chart on each rerun.
    So here ``CACHED``, the 500-row most-recent-events scan, is served
    through ``cache.TTLCache`` with the reference's 60 s TTL, and the
    ``DIRECT`` panels are built on every render. The cache clock is
    injected: it advances ``RERUN_S`` simulated seconds per render, so
    the scan is built in one render of three and hit in the other two.
    Warm-up ends at render -1 with a fresh build, so renders 0 and 1 hit
    it. One request in 13 to 20 is a hit, so the median and the 90th percentile
    both fall among the misses, far from the boundary between them. The
    timed region ends at the first render boundary after ``seconds``.
    """

    DIRECT = (
        "distinct_sorted_keys",
        "nested_extract_sparse_map",
        "dashboard_topn_with_others",
        "flagship_revenue_by_status_year",
        "dashboard_heatmap_hour_dow",
        "dq_freshness_lag_monitor",
        "metrics_layer_revenue_by_nation",
        "tpch_q5_local_supplier_volume",
        # LLM-data panels: corpus search, nearest neighbours (an Arrow
        # UDF), the curation funnel and exact-duplicate survivors
        "text_bm25_topk",
        "similarity_topk_cosine_matmul",
        "pipeline_llm_preprocess",
        "dedup_exact_keep_first",
    )
    CACHED = ("recent_n_events",)
    #: the reference's ``st.cache_data(ttl=60)``
    TTL_S = 60.0
    #: simulated seconds between reruns; the reference reruns on user
    #: interaction and states no rate, so this is an assumption
    RERUN_S = 20.0
    REQUEST_LIMIT_S = 30.0
    #: with one warm-up render, the first timed render ran ~1.3x slower
    #: than the second (the JIT was still settling)
    WARM_RENDERS = 2

    def __init__(self, layers: Layers, inputs: dict, seed: int) -> None:
        from severless_data_pipeline_aws_spark.cache import TTLCache

        self.layers = layers
        self.dir = inputs["tables_dir"]
        self.seed = seed
        self.cycle = 0
        self.cache = TTLCache(ttl_s=self.TTL_S, clock=lambda: self.cycle * self.RERUN_S)
        self.responses: list[tuple[str, object]] = []
        self.failures: list[str] = []
        self.rows_out: dict[str, int] = {}

    def cycle_requests(self, cycle: int | None) -> list[tuple[str, bool]]:
        """``(panel, cached)`` requests of one render; unshuffled if ``cycle`` is None."""
        reqs = [(p, False) for p in self.DIRECT] + [(p, True) for p in self.CACHED]
        if cycle is None:
            return reqs
        order = np.random.default_rng([self.seed, cycle]).permutation(len(reqs))
        return [reqs[i] for i in order]

    def _request(self, panel: str, cached: bool):
        return self.layers.operation(panel, self.dir, lambda df: df.toPandas(),
                                     cache=self.cache if cached else None)

    def warmup(self) -> None:
        """``WARM_RENDERS`` unshuffled renders at render -1 of the cache's
        clock, each building the scan afresh."""
        self.cycle = -1
        for _ in range(self.WARM_RENDERS):
            self.cache.invalidate()
            for panel, cached in self.cycle_requests(None):
                self._request(panel, cached)
        self.cycle = 0

    def measure(self, seconds: float) -> dict:
        tr = self.layers.tracer
        latencies_ms: list[float] = []
        kinds: list[str] = []
        failed = 0
        t0 = time.perf_counter()
        while True:
            for panel, cached in self.cycle_requests(self.cycle):
                tr.request = len(latencies_ms)
                start = time.perf_counter()
                with tr.span("request", op=panel, cached=cached):
                    try:
                        pdf = self._request(panel, cached)
                    except Exception as exc:  # a failed request is counted, not fatal
                        pdf = None
                        self.failures.append(f"{panel}: {exc!r}"[:300])
                lat = time.perf_counter() - start
                if pdf is None or lat > self.REQUEST_LIMIT_S:
                    failed += 1
                else:
                    self.responses.append((panel, pdf))
                latencies_ms.append(lat * 1000.0)
                kinds.append(f"{panel}{'+cache' if cached else ''}")
            self.cycle += 1
            if time.perf_counter() - t0 >= seconds:
                break
        wall = time.perf_counter() - t0
        tr.request = None
        self.rows_out = {p: len(pdf) for p, pdf in self.responses}
        return {
            "attempted": len(latencies_ms),
            "failed": failed,
            "wall_s": wall,
            "throughput_per_s": len(latencies_ms) / wall,
            "latency_p50_ms": percentile(latencies_ms, 50),
            "latency_p90_ms": percentile(latencies_ms, 90),
            "samples": list(zip(kinds, latencies_ms)),
        }

    def check(self) -> dict:
        from tests.oracle import duckdb_connect

        con = duckdb_connect(self.dir)
        try:
            bad = _oracle_check(self.responses, con, self.layers.specs, self.failures)
        finally:
            con.close()
        return {"wrong": bad, "failures": self.failures[:20]}


# ---------------------------------------------------------------------------
# ingest


def _dir_bytes(path: str) -> int:
    """Total size of the files under ``path`` (retried across a swap)."""
    for _ in range(5):
        try:
            return sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path))
        except FileNotFoundError:
            time.sleep(0.02)
    return 0


def _progress_listener(tracer: Tracer, snapshot_dir: str):
    """A StreamingQueryListener that turns progress events into spans."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = json.loads(event.progress.json)
            d = p.get("durationMs", {})
            end = time.perf_counter_ns()
            start = end - int(d.get("triggerExecution", 0) * 1e6)
            tracer.add("streaming.batch", start, end,
                       batch=p["batchId"], rows=p.get("numInputRows", 0),
                       source_ms=d.get("latestOffset", 0) + d.get("getBatch", 0),
                       add_batch_ms=d.get("addBatch", 0),
                       wal_commit_ms=d.get("walCommit", 0) + d.get("commitOffsets", 0),
                       snapshot_bytes=_dir_bytes(snapshot_dir))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()


class Ingest:
    """Keyed upserts: ``json_wire_stream`` -> ``foreach_batch_upsert``.

    Phase 1 drains a pre-written backlog with ``availableNow``. Phase 2 is
    an open loop: the generator writes one JSON-lines file every
    ``file_interval_s`` holding the readings of the ticks in that
    interval. Each record is timed from its file's due write time until
    the commit of the micro-batch that upserted it, so the wait for the
    file to close, which the benchmark chooses, is not counted. The
    stream takes one file per micro-batch (a file is the unit of
    ordering, see ``data.ingest_plan``). A stream that fails counts all
    of its segment's records as failed.
    """

    COMMIT_WAIT_S = 60.0

    def __init__(self, layers: Layers, inputs: dict, seed: int) -> None:
        self.layers = layers
        self.inputs = inputs
        self.work = inputs["work_dir"]
        self.seed = seed
        self.segments: list[dict] = []
        self.failures: list[str] = []
        self.rows_out: dict[str, int] = {}

    def _plan(self, seed: int, n_live: int | None = None) -> data.IngestPlan:
        c = self.inputs["ingest"]
        return data.ingest_plan(seed, c["devices"], c["tick_s"], c["report_p"], c["n_backlog"],
                                c["backlog_ticks"], n_live or c["n_live"], c["live_ticks"],
                                c["update_share"])

    def _run(self, plan: data.IngestPlan, name: str) -> dict:
        """Drain the backlog, then run the open loop; returns raw timings."""
        from severless_data_pipeline_aws_spark.streaming import pipeline

        spark = self.layers.spark
        tr = self.layers.tracer
        root = os.path.join(self.work, f"{name}-{os.getpid()}")
        src, stage = os.path.join(root, "src"), os.path.join(root, "stage")
        snap, ckpt = os.path.join(root, "snapshot"), os.path.join(root, "checkpoint")
        os.makedirs(src)
        os.makedirs(stage)
        sizes = []

        def put(i: int, mtime: float | None = None) -> float:
            body = data.encode_file(plan.files[i])
            sizes.append(len(body))
            tmp = os.path.join(stage, f"part-{i:05d}.json")
            with open(tmp, "wb") as fh:
                fh.write(body)
            if mtime is not None:
                os.utime(tmp, (mtime, mtime))
            os.rename(tmp, os.path.join(src, f"part-{i:05d}.json"))
            return time.time()

        def writer():
            stream = pipeline.json_wire_stream(spark, src, max_files_per_trigger=1)
            return pipeline.foreach_batch_upsert(stream, snap, ckpt)

        listener = None
        n_seen = len(tr.by_name("streaming.batch"))
        if tr.active:
            listener = _progress_listener(tr, snap)
            spark.streams.addListener(listener)
        try:
            base = time.time() - 1000.0
            for i in range(plan.n_backlog):
                put(i, mtime=base + i)
            n_backlog_recs = sum(len(plan.files[i]) for i in range(plan.n_backlog))
            start = time.perf_counter()
            with tr.span("streaming.drain"):
                q = writer().trigger(availableNow=True).start()
                q.awaitTermination()
            drain_s = time.perf_counter() - start

            n_files = len(plan.files)
            writes, late = [], []
            with tr.span("streaming.open_loop"):
                q = writer().start()
                t0 = time.time()
                try:
                    for j, i in enumerate(range(plan.n_backlog, n_files)):
                        due = t0 + (j + 1) * plan.file_interval_s
                        pause = due - time.time()
                        if pause > 0:
                            time.sleep(pause)
                        writes.append(put(i))
                        late.append(max(writes[-1] - due, 0.0))
                    deadline = time.time() + self.COMMIT_WAIT_S
                    while _committed(ckpt) < n_files and time.time() < deadline:
                        if q.exception() is not None:
                            raise q.exception()
                        time.sleep(0.02)
                finally:
                    q.stop()
        finally:
            if listener is not None:
                # progress events arrive asynchronously; let the last ones land
                deadline = time.time() + 5.0
                while (len(tr.by_name("streaming.batch")) < n_seen + _committed(ckpt)
                       and time.time() < deadline):
                    time.sleep(0.05)
                spark.streams.removeListener(listener)
        return dict(plan=plan, src=src, snap=snap, ckpt=ckpt, t0=t0, writes=writes,
                    late=late, drain_s=drain_s, drain_records=n_backlog_recs,
                    input_bytes=sum(sizes))

    def warmup(self) -> None:
        # a full-size backlog and one live file: with a small backlog the JIT
        # was still settling in the timed region, and batch times differed
        # by up to 1.5x between runs
        self._run(self._plan(0, n_live=1), "warmup")

    def measure(self, seconds: float) -> dict:
        c = self.inputs["ingest"]
        k = len(self.segments)
        plan = self._plan(self.seed * 1000 + k)
        n = sum(len(f) for f in plan.files)
        start = time.perf_counter()
        try:
            seg = self._run(plan, f"seg{k}")
            fresh, backlog = _freshness(seg)
        except Exception as exc:  # a failed stream is counted, not fatal
            self.failures.append(f"segment {k}: {exc!r}"[:300])
            self.segments.append({"failed": True})
            return {"attempted": n, "failed": n, "wall_s": time.perf_counter() - start,
                    "throughput_per_s": 0.0, "latency_p50_ms": 0.0, "latency_p90_ms": 0.0}
        self.segments.append(seg)
        seg["fresh_ms"] = fresh
        starts = np.cumsum([0] + [len(f) for f in plan.files[plan.n_backlog:-1]])
        file_fresh = [fresh[k] for k in starts]
        fresh = [f for f in fresh if f is not None]
        return {
            "attempted": n,
            "failed": 0,
            "wall_s": seg["drain_s"] + len(seg["writes"]) * plan.file_interval_s,
            "throughput_per_s": seg["drain_records"] / seg["drain_s"],
            "latency_p50_ms": percentile(fresh, 50),
            "latency_p90_ms": percentile(fresh, 90),
            "offered_records_per_s": c["devices"] * c["report_p"] / c["tick_s"],
            "file_freshness_ms": file_fresh,
            "generator_lateness_ms_max": max(seg["late"], default=0.0) * 1000.0,
            "backlog_files_max": backlog,
            "snapshot_bytes_end": _dir_bytes(seg["snap"]),
            "input_bytes": seg["input_bytes"],
        }

    def check(self) -> dict:
        wrong = 0
        for seg in self.segments:
            if seg.get("failed"):
                continue  # its records are already counted as failed
            bad = _snapshot_mismatches(seg["snap"], data.last_write_wins(seg["plan"]))
            uncommitted = sum(1 for f in seg["fresh_ms"] if f is None)
            if bad:
                self.failures.append(f"snapshot differs from last-write-wins replay in {bad} keys")
            if uncommitted:
                self.failures.append(f"{uncommitted} records never committed")
            wrong += bad + uncommitted
        return {"wrong": wrong, "failures": self.failures[:20]}


def _snapshot_mismatches(snapshot_dir: str, want: dict[int, dict]) -> int:
    """Keys whose snapshot row is missing, extra or differs from ``want``."""
    import pandas as pd
    import pyarrow.parquet as pq

    got = pq.read_table(snapshot_dir).to_pandas()
    ts = got["ts"]
    if ts.dt.tz is not None:
        ts = ts.dt.tz_convert("UTC").dt.tz_localize(None)
    got["ts"] = ts.astype("datetime64[us]")
    exp = pd.DataFrame(list(want.values()))
    exp["ts"] = pd.to_datetime(exp["ts"]).astype("datetime64[us]")
    both = exp.merge(got, on="event_id", how="outer", suffixes=("", "_got"), indicator=True)
    same = both["_merge"] == "both"
    for col in ("ts", "user_id", "event_type", "value", "props"):
        same &= both[col] == both[f"{col}_got"]
    return int((~same).sum())


def _committed(ckpt: str) -> int:
    try:
        return sum(1 for f in os.listdir(os.path.join(ckpt, "commits")) if f.isdigit())
    except FileNotFoundError:
        return 0


def _batch_files(ckpt: str) -> tuple[dict[str, int], dict[int, float]]:
    """Which batch read each source file, and when each batch committed."""
    file_batch: dict[str, int] = {}
    src_log = os.path.join(ckpt, "sources", "0")
    for f in os.listdir(src_log):
        if f.startswith("."):
            continue
        with open(os.path.join(src_log, f)) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    file_batch[os.path.basename(e["path"])] = int(e["batchId"])
    commits = os.path.join(ckpt, "commits")
    commit_t = {int(f): os.stat(os.path.join(commits, f)).st_mtime_ns / 1e9
                for f in os.listdir(commits) if f.isdigit()}
    return file_batch, commit_t


def _freshness(seg: dict) -> tuple[list, int]:
    """Per-record freshness of the open loop (ms from the record's file's
    due write time to its batch's commit; None if never committed), and
    the largest number of written-but-uncommitted files seen at a file
    write."""
    plan = seg["plan"]
    file_batch, commit_t = _batch_files(seg["ckpt"])
    done = []
    for i in range(plan.n_backlog, len(plan.files)):
        b = file_batch.get(f"part-{i:05d}.json")
        done.append(commit_t.get(b) if b is not None else None)
    fresh: list = []
    for j, i in enumerate(range(plan.n_backlog, len(plan.files))):
        due = seg["t0"] + (j + 1) * plan.file_interval_s
        fresh += [None if done[j] is None else (done[j] - due) * 1000.0] * len(plan.files[i])
    backlog = 0
    for j, w in enumerate(seg["writes"]):
        pending = sum(1 for d in done[: j + 1] if d is None or d > w)
        backlog = max(backlog, pending)
    return fresh, backlog


WORKLOADS = {"dashboard": Dashboard, "ingest": Ingest}
