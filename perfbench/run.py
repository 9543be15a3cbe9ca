"""Closed-loop benchmark of the engine, end to end and layer by layer.

    python3 perfbench/run.py --workload fanout --seed 1 --seconds 11 --trace 0

One client runs one workload's ops back to back in a single Spark
session (``local[nproc]``, ``SPARK_GRAFT_CPUS=nproc``, shipped defaults).
An op is one ``FanoutRunner.run`` over lineitem split into 8 parquet
objects (``fanout``), or one registered query built and run to the noop
sink (the other workloads). Ops run in passes over the workload's mix;
the seed sets the op order within each pass.

A run:

1. generates the fixtures (``gen.py``, cached under ``.perfbench_work``);
2. times one cold set-up: package import, ``build_spark`` and the
   first op's result;
3. checks every query of the mix once against its DuckDB oracle (for
   ``fanout``: hits and per-object hits against DuckDB, no failures,
   the same read bytes on every op), then runs a few more untimed ops
   (``WARMUP_OPS``) to warm the session up;
4. runs whole passes until ``--seconds`` have elapsed and times every op
   from the caller;
5. with ``--trace 1``, runs a second window of the same length with
   spans and per-op counters on, and reports the per-layer metrics and
   the tracing overhead instead of the end-to-end ones.

The last stdout line is the JSON result; the line before it records the
host, versions and settings. Metric names and units come from
BENCHMARK.json. The exit code is 1 when any op failed or returned a
wrong result, and 2 when the program is not in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import signal
import statistics
import sys
import time
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
WORK = ROOT / ".perfbench_work"
NPROC = len(os.sched_getaffinity(0))
FANOUT_OBJECTS = 8
FANOUT_THREADS = 4  # the reference runner's -j default
# untimed ops after the check pass, in mix order: fanout keeps getting
# faster (JIT) over its first ten or so ops; the other mixes' check pass
# already runs every query once
WARMUP_OPS = {"fanout": 6}

# the ops of each workload, in set-up order: the first is the set-up op
MIXES = {
    "fanout": ["fanout"],
    # three operator kinds: windowed aggregation, watermark dedup, Python
    # stateful processing (stream_sliding_wm is tumbling's twin, left out
    # to keep a run inside the time budget)
    "stream_drain": [
        "stream_tumbling_wm",
        "stream_dedup_wm",
        "stream_transform_with_state",
    ],
    "sql_analytics": [
        "agg_basic",
        "tpch_q3_toporders",
        "tpch_q5_nation_revenue",
        "tpch_q9_product_profit",
        "tpch_q10_returned",
        "tpch_q18_large_orders",
        "agg_rollup",
        "join_multiway",
        "window_rank",
        "sort_multi",
    ],
    "llm_pipeline": [
        "text_normalize",
        "dedup_ngram_jaccard",
        "dedup_substring_spans",
        "text_quality",
        "text_bm25_topk",
        "sim_cosine_topk",
        "embed_pq_codes",
        "chunk_documents",
        "mm_image_phash",
        "pipeline_pretrain_end2end",
    ],
}

sys.path.insert(0, str(BENCH_DIR))

from stats import tail_percentile  # noqa: E402
from tracing import (  # noqa: E402
    JvmProbe,
    QueryPhaseListener,
    Tracer,
    make_stream_listener,
    phase_intervals,
    self_times,
    udf_profile_totals,
)


def program_present() -> bool:
    return (ROOT / "ocs_duckdb_runner_spark" / "__init__.py").is_file() and (
        ROOT / "scripts" / "driver_sim.py"
    ).is_file()


def prepare_env() -> None:
    """Keep every file Spark, Python and the JVM write inside WORK."""
    tmp = WORK / "tmp"
    for d in (tmp, WORK / "spark-local", WORK / "results"):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(NPROC)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    # PerfDisableSharedMem: no JVM writes an hsperfdata file under /tmp,
    # neither spark-submit's launcher JVM nor Spark's own
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '{jvm_opts}' pyspark-shell")
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(ROOT / "scripts"))


def ensure_data() -> Path:
    """The sf0.1 fixtures plus lineitem split into objects, generated once
    per generator version and reused by later runs."""
    import hashlib

    import gen

    tag = hashlib.md5((BENCH_DIR / "gen.py").read_bytes()).hexdigest()[:12]
    out = WORK / "data" / f"sf0.1-{tag}"
    if not (out / "_SUCCESS").exists():
        partial = out.with_name(out.name + f".partial-{os.getpid()}")
        gen.generate(str(partial), sf=0.1, seed=42)
        gen.split_lineitem(str(partial), FANOUT_OBJECTS)
        if out.exists():
            import shutil

            shutil.rmtree(out)
        partial.rename(out)
        (out / "_SUCCESS").touch()
    return out


def result_summary(result):
    """What a checked op is compared by: the fanout report as is, a query
    result by row count, column names and canonical content hash."""
    if isinstance(result, dict):
        return result
    from driver_sim import canon_hash

    return {"rows": len(result), "cols": sorted(result.columns),
            "hash": canon_hash(result)}


def object_files(data: Path) -> list[str]:
    d = data / "lineitem_objects"
    return sorted(str(d / f) for f in os.listdir(d) if f.endswith(".parquet"))


class Bench:
    """One workload's ops against one session."""

    def __init__(self, workload: str, data: Path) -> None:
        self.workload = workload
        self.sf_dir = str(data)
        self.files = object_files(data)
        self.spark = None
        self.tracer = Tracer(enabled=False)
        self.last_df = None
        self.want: dict = {}
        self.read_bytes: list[int] = []

    # -- set-up -------------------------------------------------------
    def setup(self) -> dict:
        """Cold set-up: package import, build_spark, first op's result."""
        t0 = time.monotonic()
        from ocs_duckdb_runner_spark.session import build_spark

        extra = {}
        if self.workload == "fanout":
            # the runner's read-byte accounting comes from the UI's REST API
            extra["spark.ui.enabled"] = "true"
        with self.tracer.span("session.build"):
            self.spark = build_spark(
                app_name=f"perfbench-{self.workload}", extra_conf=extra
            )
        t1 = time.monotonic()
        first = self.op(MIXES[self.workload][0], collect=True)
        t2 = time.monotonic()
        return {"build_s": t1 - t0, "first_op_s": t2 - t1,
                "setup_s": t2 - t0, "result": result_summary(first)}

    # -- ops ----------------------------------------------------------
    def op(self, name: str, collect: bool = False, op_id: int | None = None):
        """Run one op. Fanout returns the runner's report. A query runs to
        the noop sink, or with ``collect`` returns its result as pandas."""
        with self.tracer.span("op", op=op_id):
            if name == "fanout":
                return self._fanout()
            return self._query(name, collect)

    def _fanout(self) -> dict:
        from ocs_duckdb_runner_spark.runner import FanoutRunner

        with self.tracer.span("runner.run"):
            rep = FanoutRunner(self.spark, threads=FANOUT_THREADS).run(self.files)
        return {k: rep[k] for k in ("sources", "hits", "failures", "read_bytes",
                                    "read_records", "read_ops",
                                    "total_query_time_sec", "per_file_hits")}

    def _query(self, name: str, collect: bool):
        from ocs_duckdb_runner_spark.registry import specs

        spec = specs()[name]
        with self.tracer.span("registry.build"):
            df = spec.fn(self.spark, self.sf_dir)
        self.last_df = df
        with self.tracer.span("exec.action"):
            if collect:
                return df.toPandas()
            df.write.format("noop").mode("overwrite").save()
        return None

    # -- correctness --------------------------------------------------
    def expected(self) -> dict:
        """What each op of the mix must return, computed by DuckDB."""
        import duckdb

        con = duckdb.connect()
        con.execute(f"SET threads={NPROC}")
        con.execute("SET memory_limit='2GB'")
        con.execute(f"SET temp_directory='{WORK / 'tmp' / 'duckdb'}'")
        try:
            if self.workload == "fanout":
                from ocs_duckdb_runner_spark.runner import to_sql

                per_file = {}
                for f in self.files:
                    sql = to_sql(f).replace(f"parquet.`{f}`", f"read_parquet('{f}')")
                    per_file[f] = con.execute(
                        f"SELECT count(*) FROM ({sql})").fetchone()[0]
                return {"fanout": per_file}
            from driver_sim import _register_views
            from ocs_duckdb_runner_spark.registry import specs

            _register_views(con, self.sf_dir)
            out = {}
            for name in MIXES[self.workload]:
                out[name] = result_summary(con.execute(specs()[name].oracle).fetchdf())
            return out
        finally:
            con.close()

    def check(self, name: str, got) -> str | None:
        """None when ``got`` is right, else what is wrong with it. Every
        fanout op must read the same bytes as the first one checked."""
        if name != "fanout":
            want = self.want[name]
            return None if got == want else f"{name}: {got} != oracle {want}"
        per_file, read_bytes = self.want["fanout"], self.read_bytes
        if got["failures"] or got["sources"] != len(per_file):
            return f"fanout: {got['failures']} failures over {got['sources']} sources"
        if got["per_file_hits"] != per_file or got["hits"] != sum(per_file.values()):
            return f"fanout: hits {got['hits']} != DuckDB {sum(per_file.values())}"
        if not got["read_bytes"] or (read_bytes and got["read_bytes"] != read_bytes[0]):
            return f"fanout: read_bytes {got['read_bytes']} != {read_bytes[:1]}"
        read_bytes.append(got["read_bytes"])
        return None

    # -- timed window -------------------------------------------------
    def window(self, seconds: float, rng: random.Random, per_op=None) -> dict:
        """Whole passes over the mix until ``seconds`` have elapsed."""
        lat, failed, names, errors = [], 0, [], []
        steal0 = host_steal_s()
        cpu0 = time.process_time()
        t0 = time.monotonic()
        while True:
            order = list(MIXES[self.workload])
            rng.shuffle(order)
            for name in order:
                t = time.monotonic()
                try:
                    got = self.op(name) if per_op is None else per_op(name, len(lat))
                    err = None
                except Exception as ex:  # noqa: BLE001 — counted, reported
                    err = f"{name} raised {ex!r}"
                lat.append(time.monotonic() - t)
                names.append(name)
                if err is None and name == "fanout":
                    err = self.check(name, got)
                if err:
                    failed += 1
                    errors.append(err)
                    print(f"op failed: {err}", file=sys.stderr)
            if time.monotonic() - t0 >= seconds:
                break
        wall = time.monotonic() - t0
        return {"lat": lat, "names": names, "failed": failed, "errors": errors,
                "wall_s": wall,
                "ops_per_s": len(lat) / wall,
                "python_cpu_s": time.process_time() - cpu0,
                "host_steal_frac": (host_steal_s() - steal0) / (wall * NPROC)}

    def heap_live_mb(self) -> float:
        mx = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        bean = mx.getMemoryMXBean()
        bean.gc()
        return bean.getHeapMemoryUsage().getUsed() / 2**20

    def shutdown(self) -> None:
        """Stop the session, then wait for the JVM and the Python workers
        it started to exit."""
        if self.spark is None:
            return
        gw = self.spark.sparkContext._gateway
        proc = gw.proc
        workers = descendants(proc.pid)
        self.spark.stop()
        gw.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)
        self.spark = None
        deadline = time.monotonic() + 20
        while workers and time.monotonic() < deadline:
            workers = [p for p in workers if os.path.exists(f"/proc/{p}")]
            time.sleep(0.1)
        for p in workers:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs
    (Linux /proc/stat): a run that other tenants slowed down shows it."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def descendants(pid: int) -> list[int]:
    """Process ids of every descendant of ``pid`` (Linux /proc)."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except FileNotFoundError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{p}/task/{tid}/children") as fh:
                    kids = [int(k) for k in fh.read().split()]
            except FileNotFoundError:
                continue
            out += kids
            todo += kids
    return out


class TracedWindow:
    """Per-op counters around each op of a traced window."""

    def __init__(self, bench: Bench) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self.bench = bench
        spark = bench.spark
        self.probe = JvmProbe(spark)
        ensure_callback_server_started(spark.sparkContext._gateway)
        self.phases = QueryPhaseListener()
        spark._jsparkSession.listenerManager().register(self.phases)
        self.stream = make_stream_listener()
        spark.streams.addListener(self.stream)
        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        spark.profile.clear()
        self.epoch = time.time() - time.monotonic()
        self.ops: list[dict] = []
        self.udf_ops: dict[str, bool] = {}

    def close(self) -> None:
        spark = self.bench.spark
        spark.conf.unset("spark.sql.pyspark.udf.profiler")
        spark.streams.removeListener(self.stream)
        spark._jsparkSession.listenerManager().unregister(self.phases)

    def _mono(self, epoch_ms: int) -> float:
        return epoch_ms / 1000 - self.epoch

    def __call__(self, name: str, op_id: int) -> None:
        b, p, tr = self.bench, self.probe, self.bench.tracer
        j0, st0 = p.next_job_id(), p.storage()
        u0 = udf_profile_totals(b.spark)
        n_phase, n_prog = len(self.phases.phases), len(self.stream.progress)
        plan_hits = None
        if name == "fanout":
            from ocs_duckdb_runner_spark.runner import _PLAN_CACHE

            cached = {k[0] for k in list(_PLAN_CACHE)}
            plan_hits = sum(f in cached for f in b.files) / len(b.files)
        first_span = len(tr.spans)
        b.last_df = None
        cpu0 = p.cpu_seconds()
        report = b.op(name, op_id=op_id)
        jvm_cpu = p.cpu_seconds() - cpu0
        p.drain_listeners()
        spans = tr.spans[first_span:]
        build = [s for s in spans if s.name == "registry.build"]
        jobs = p.jobs(j0, p.next_job_id())
        phases = self.phases.phases[n_phase:]
        if b.last_df is not None:
            phases = phases + phase_intervals(b.last_df._jdf.queryExecution())
        for ph, a, z in phases:
            tr.add(f"catalyst.{ph}", self._mono(a), self._mono(z), op_id)
        for j in jobs:
            if j["submit_ms"] is not None and j["end_ms"] is not None:
                tr.add("exec.job", self._mono(j["submit_ms"]),
                       self._mono(j["end_ms"]), op_id)
        eager_jobs = sum(
            1 for j in jobs for s in build if j["submit_ms"] is not None
            and s.start <= self._mono(j["submit_ms"]) <= s.end)
        st1 = p.storage()
        u1 = udf_profile_totals(b.spark)
        self.udf_ops[name] = self.udf_ops.get(name, False) or u1[0] > u0[0]
        self.ops.append({
            "name": name,
            "op_id": op_id,
            "eager_jobs": eager_jobs,
            "pinned_rdds_delta": st1[0] - st0[0],
            "pinned_bytes_delta": st1[1] - st0[1],
            "phases": phases,
            "jobs": jobs,
            "udf_s": u1[0] - u0[0],
            "udf_calls": u1[1] - u0[1],
            "jvm_cpu_s": jvm_cpu,
            "progress": self.stream.progress[n_prog:],
            "report": report,
            "plan_hits": plan_hits,
        })
        return report


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def e2e_metrics(setup_s: float, win: dict, attempted: int, failed: int,
                heap_mb: float) -> tuple[dict, dict]:
    """The end-to-end metrics, and a record of how the tail was taken."""
    p, tail, beyond = tail_percentile(win["lat"])
    metrics = {
        "setup_s": setup_s,
        "ops_per_s": win["ops_per_s"],
        "op_p50_s": statistics.median(win["lat"]),
        "op_tail_s": tail,
        "ok_ops_frac": (attempted - failed) / attempted,
        "heap_live_mb": heap_mb,
    }
    return metrics, {"tail_percentile": p, "tail_samples_beyond": beyond,
                     "samples": len(win["lat"])}


def layer_metrics(ops: list[dict], spans: list, session: dict,
                  untraced: dict, traced: dict) -> dict:
    """The per-layer metrics of a traced window: per-op means of each
    counter, ratios over the window's totals."""
    ids = {o["op_id"] for o in ops}
    spans = [s for s in spans if s.op in ids]
    st = self_times(spans)
    by_name: dict[str, list[float]] = {}
    dur: dict[str, float] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(st[s.sid])
        dur[s.name] = dur.get(s.name, 0.0) + (s.end - s.start)
    n = max(1, len(ops))

    def per_op(total: float) -> float:
        return total / n

    def stage_sum(key: str) -> float:
        return sum(sg[key] for o in ops for j in o["jobs"] for sg in j["stages"])

    def phase_ms(ph: str) -> float:
        return per_op(sum(z - a for o in ops for p, a, z in o["phases"] if p == ph))

    def job_ms_max(o: dict) -> float:
        walls = [j["end_ms"] - j["submit_ms"] for j in o["jobs"]
                 if j["submit_ms"] is not None and j["end_ms"] is not None]
        return max(walls, default=0)

    def skew(o: dict) -> float:
        return max((sg["skew"] for j in o["jobs"] for sg in j["stages"]), default=1.0)

    progress = [pr for o in ops for pr in o["progress"]]

    def dur_ms(key: str) -> float:
        return per_op(sum(pr.durationMs.get(key, 0) for pr in progress))

    def last_state(o: dict, attr: str) -> float:
        if not o["progress"]:
            return 0
        return sum(getattr(s, attr) for s in o["progress"][-1].stateOperators)

    fan = [o for o in ops if o["report"] is not None]
    build_s = dur.get("registry.build", 0.0)
    action_s = dur.get("exec.action", 0.0)
    run_ms, cpu_ms = stage_sum("run_ms"), stage_sum("cpu_ms")
    fan_n = max(1, len(fan))
    return {
        "session.build_s": session["build_s"],
        "session.first_op_s": session["first_op_s"],
        "session.jvm_peak_rss_mb": session["jvm_peak_rss_mb"],
        "registry.build_s": per_op(build_s),
        "registry.build_share": build_s / (build_s + action_s) if build_s + action_s else 0.0,
        "registry.eager_jobs": per_op(sum(o["eager_jobs"] for o in ops)),
        "registry.self_s": per_op(sum(by_name.get("registry.build", []))),
        "registry.pinned_rdds_delta": per_op(sum(o["pinned_rdds_delta"] for o in ops)),
        "registry.pinned_bytes_delta": per_op(sum(o["pinned_bytes_delta"] for o in ops)),
        "catalyst.analysis_ms": phase_ms("analysis"),
        "catalyst.optimization_ms": phase_ms("optimization"),
        "catalyst.planning_ms": phase_ms("planning"),
        "exec.action_s": per_op(action_s),
        "exec.self_s": per_op(sum(by_name.get("exec.action", []))),
        "exec.jobs": per_op(sum(len(o["jobs"]) for o in ops)),
        "exec.stages": per_op(sum(len(j["stages"]) for o in ops for j in o["jobs"])),
        "exec.tasks": per_op(stage_sum("tasks")),
        "exec.sched_delay_ms": per_op(stage_sum("sched_delay_ms")),
        "exec.job_ms_max": _mean(job_ms_max(o) for o in ops),
        "exec.run_ms": per_op(run_ms),
        "exec.cpu_ms": per_op(cpu_ms),
        "exec.gc_ms": per_op(stage_sum("gc_ms")),
        "exec.cpu_over_run": cpu_ms / run_ms if run_ms else 0.0,
        "exec.input_bytes": per_op(stage_sum("input_bytes")),
        "exec.input_records": per_op(stage_sum("input_records")),
        "exec.shuffle_read_bytes": per_op(stage_sum("shuffle_read_bytes")),
        "exec.shuffle_write_bytes": per_op(stage_sum("shuffle_write_bytes")),
        "exec.spill_bytes": per_op(stage_sum("spill_bytes")),
        "exec.task_skew": _mean(skew(o) for o in ops),
        "udf.python_s": per_op(sum(o["udf_s"] for o in ops)),
        "udf.calls": per_op(sum(o["udf_calls"] for o in ops)),
        "runner.reported_wall_s": _mean(o["report"]["total_query_time_sec"] for o in fan),
        "runner.report_s": _mean(traced["lat"][o["op_id"]]
                                 - o["report"]["total_query_time_sec"] for o in fan),
        "runner.self_s": sum(by_name.get("runner.run", [])) / fan_n,
        "runner.plan_cache_hit_ratio": _mean(o["plan_hits"] for o in fan),
        "runner.read_ops": _mean(o["report"]["read_ops"] or 0 for o in fan),
        "runner.read_bytes": _mean(o["report"]["read_bytes"] or 0 for o in fan),
        "runner.read_records": _mean(o["report"]["read_records"] or 0 for o in fan),
        "streaming.batches": per_op(len(progress)),
        "streaming.input_rows": per_op(sum(pr.numInputRows for pr in progress)),
        "streaming.batch_ms": dur_ms("triggerExecution"),
        "streaming.add_batch_ms": dur_ms("addBatch"),
        "streaming.wal_commit_ms": dur_ms("walCommit"),
        "streaming.query_planning_ms": dur_ms("queryPlanning"),
        "streaming.latest_offset_ms": dur_ms("latestOffset"),
        "streaming.state_rows": _mean(last_state(o, "numRowsTotal") for o in ops),
        "streaming.state_memory_bytes": _mean(last_state(o, "memoryUsedBytes") for o in ops),
        "host.cpu_util": (traced["python_cpu_s"] + sum(o["jvm_cpu_s"] for o in ops))
        / (traced["wall_s"] * NPROC),
        "trace.untraced_ops_per_s": untraced["ops_per_s"],
        "trace.traced_ops_per_s": traced["ops_per_s"],
        "trace.overhead_frac": 1 - traced["ops_per_s"] / untraced["ops_per_s"],
    }


def declared_metrics() -> tuple[dict, dict]:
    """name -> unit for the end-to-end and the per-layer metrics."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def host_record(bench: Bench, args) -> dict:
    import pyspark

    sc = bench.spark.sparkContext
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": NPROC,
        "mem_total_mb": os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": sc._jvm.System.getProperty("java.version"),
        "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
        "driver_memory": sc.getConf().get("spark.driver.memory", "unset"),
        "master": sc.master,
        "fanout_threads": FANOUT_THREADS if args.workload == "fanout" else None,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(MIXES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not program_present():
        print(f"error: the engine package is not under {ROOT}", file=sys.stderr)
        return 2
    e2e_units, layer_units = declared_metrics()
    prepare_env()
    data = ensure_data()

    phase = {"start": time.monotonic()}
    bench = Bench(args.workload, data)
    bench.tracer = Tracer(enabled=bool(args.trace))
    rng = random.Random(args.seed)
    try:
        own = bench.setup()
        bench.tracer.enabled = False  # until the traced window
        phase["setup"] = time.monotonic()
        bench.want = bench.expected()
        phase["oracle"] = time.monotonic()
        mix = MIXES[args.workload]
        checked = [(mix[0], own["result"])]
        for name in mix[1:]:
            checked.append((name, result_summary(bench.op(name, collect=True))))
        for i in range(WARMUP_OPS.get(args.workload, 0)):
            name = mix[i % len(mix)]
            got = bench.op(name)
            checked.append((name, got if name == "fanout" else None))
        errors = []
        for name, got in checked:
            err = bench.check(name, got) if got is not None else None
            if err:
                errors.append(err)
                print(f"wrong result: {err}", file=sys.stderr)
        phase["check"] = time.monotonic()
        win = bench.window(args.seconds, rng)
        phase["window"] = time.monotonic()
        heap = bench.heap_live_mb()
        attempted = len(checked) + len(win["lat"])
        failed = len(errors) + win["failed"]
        errors += win["errors"]
        metrics, tail = e2e_metrics(own["setup_s"], win, attempted, failed, heap)
        units = e2e_units
        record = {**host_record(bench, args), **tail,
                  "op_lat_s": [round(x, 4) for x in win["lat"]],
                  "host_steal_frac": win["host_steal_frac"],
                  "op_p50_by_query_s": {
                      q: statistics.median(t for n, t in zip(win["names"], win["lat"]) if n == q)
                      for q in mix},
                  "session_build_s": own["build_s"], "first_op_s": own["first_op_s"],
                  "errors": errors[:10]}
        if args.trace:
            bench.tracer.enabled = True
            traced_win = TracedWindow(bench)
            twin = bench.window(args.seconds, rng, per_op=traced_win)
            traced_win.close()
            attempted += len(twin["lat"])
            failed += twin["failed"]
            errors += twin["errors"]
            own["jvm_peak_rss_mb"] = traced_win.probe.peak_rss_mb()
            metrics = layer_metrics(traced_win.ops, bench.tracer.spans, own, win, twin)
            units = layer_units
            record["udf_profiled_by_op"] = traced_win.udf_ops
            spans_out = WORK / "results" / f"spans-{args.workload}-seed{args.seed}.json"
            bench.tracer.dump(str(spans_out))
            record["spans_file"] = str(spans_out.relative_to(ROOT))
    finally:
        bench.shutdown()
    phase["shutdown"] = time.monotonic()
    record["phase_end_s"] = {k: round(v - phase["start"], 2) for k, v in phase.items()}

    missing = set(units) ^ set(metrics)
    if missing:
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {sorted(missing)}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
    record_path = WORK / "results" / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    record_path.write_text(json.dumps({"record": record, "result": result}, indent=1))
    print(json.dumps({"record": record}))
    print(json.dumps(result))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
