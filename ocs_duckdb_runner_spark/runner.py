"""The fan-out query runner — the reference harness itself, Spark-first.

Reference behavior being reproduced (/root/reference/runner.cc):
- R9  per-file fan-out: `QueryRunner::AddTask` → fixed pthread pool
      (runner.cc:236-317, pthread-helper.h:112-227). Here: a
      ThreadPoolExecutor submitting one Spark job per file under the FAIR
      scheduler — Spark's task scheduler replaces the hand-built pool, and
      each file's query is an independent job exactly like each file's
      DuckDB instance was independent.
- R10 deterministic seed-1 shuffle of the source list (runner.cc:392).
- R11/R12 I/O accounting: MonitoredFileSystem counted read_ops/read_bytes
      per S3 handle (runner.cc:56-172) and merged per-task stats under a
      mutex (runner.cc:288-307). Here: Spark task inputMetrics aggregated
      by the engine, read per job group from the driver's in-process
      status store, so the report has bytes with spark.ui.enabled=false
      (read-op counts have no exact Spark analog — reported as the task
      count alongside bytes, as documented in SURVEY.md §2a R11).
- R13 wall-clock + report to stderr (runner.cc:334-359, time.h:40-46).
- R14 per-task error isolation: failed file logged, run continues
      (runner.cc:293-297).
- R15 CLI + stdin protocol: sources one per line (runner.cc:361-395).

The per-object query is the reference's fixed template (runner.cc:174-182):
box filter → GROUP BY → min×4/avg → ORDER BY, parameterized only by the
source path — exactly `ToSql(source)`. Each object runs as ONE Spark job
with one stage and one task: the scan is coalesced to one partition, so
the aggregate and the sort need no exchange. An object larger than one
split therefore scans as one task, which matches the reference's
single-threaded engine per object (runner.cc:200); parallelism lives
across objects, in the pool.
"""

from __future__ import annotations

import argparse
import itertools
import os
import random
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession

from ocs_duckdb_runner_spark.registry import load_table, query


def to_sql(path: str) -> str:
    """The fixed per-object query template as ONE SQL string — the direct
    analog of the reference's ToSql(source) (runner.cc:174-182), and also
    the fast path: the whole query is a single Py4J round trip, where the
    DataFrame formulation cost ~40 GIL-serialized Py4J calls per file —
    which, multiplied across pool threads, dominated fan-out wall time.
    The avg is the exactness.fx_avg fixed-point form inlined.

    The COALESCE(1) hint makes the scan report SinglePartition, which
    satisfies both the aggregate's and the global sort's required
    distribution, so the plan has no exchange. Filters and column pruning
    still push into the scan. DuckDB reads the hint as a comment: the
    perfbench oracle runs this string with the parquet.`path` reference
    swapped for read_parquet."""
    return f"""
    SELECT l_orderkey AS VID,
           min(l_quantity) AS X,
           min(l_extendedprice) AS Y,
           min(l_discount) AS Z,
           CAST(sum(CAST(round(l_tax * 10000) AS BIGINT)) AS DOUBLE)
             / count(l_tax) / 10000.0 AS E
    FROM (SELECT /*+ COALESCE(1) */ * FROM parquet.`{path}`)
    WHERE l_quantity > 10 AND l_quantity < 20
      AND l_extendedprice > 20000 AND l_extendedprice < 60000
      AND l_discount > 0.02 AND l_discount < 0.08
    GROUP BY l_orderkey
    ORDER BY E, VID
    """


_PLAN_CACHE: dict[tuple, object] = {}
_PLAN_CACHE_MAX = 1024
_PLAN_CACHE_LOCK = threading.Lock()
_SESSION_UIDS = itertools.count()


def _session_uid(spark: SparkSession) -> int:
    """Stable per-session cache-key token. id(spark) can alias a GC'd
    session's address; instead stamp each session with a monotonically
    increasing uid on first use (guarded by the cache lock)."""
    uid = getattr(spark, "_ocs_plan_cache_uid", None)
    if uid is None:
        uid = next(_SESSION_UIDS)
        spark._ocs_plan_cache_uid = uid
    return uid


def flagship_on_file(spark: SparkSession, path: str) -> DataFrame:
    """The fixed per-object query (runner.cc:174-182) over one
    lineitem-schema parquet object.

    Analyzed-plan cache: parsing + analysis of the per-object SQL costs
    ~90 ms/file (Catalyst analysis + a parquet footer read for schema
    resolution) — ~40% of warm fan-out wall. The ANALYZED LOGICAL PLAN is
    memoized per (path, mtime, size, session) and wrapped in a FRESH
    Dataset per call (Dataset.ofRows, ~3 ms): physical planning and
    execution re-run every time, so each run genuinely re-reads the object
    and the R11 I/O metrics stay truthful. Caching the DataFrame itself
    would be wrong — every run would share one QueryExecution, and a plan
    with an exchange would reuse its computed shuffle output and skip the
    scan entirely (0 bytes read: a result cache masquerading as a query
    run). mtime+size in the key
    invalidates on file replacement; remote objects (s3a://, hdfs://) are
    stat'd through the Hadoop FS API instead (one metadata round trip,
    same invalidation contract); any reflection failure falls back to
    plain spark.sql. Bounded FIFO, 1024 entries."""
    try:
        st = os.stat(path)
        sig = (st.st_mtime_ns, st.st_size)
    except OSError:  # remote object — stat via the Hadoop FS API
        sig = _remote_sig(spark, path)
        if sig is None:
            return spark.sql(to_sql(path))
    with _PLAN_CACHE_LOCK:
        key = (path, sig, _session_uid(spark))
        plan = _PLAN_CACHE.get(key)
    if plan is None:
        df = spark.sql(to_sql(path))
        try:
            plan = df._jdf.queryExecution().analyzed()
        except Exception:  # non-classic session / API drift
            return df
        # lookup/insert/evict under one lock: the fan-out pool's worker
        # threads hit this concurrently, and an unguarded evict-while-
        # insert can raise "dict changed size during iteration".
        with _PLAN_CACHE_LOCK:
            if len(_PLAN_CACHE) >= _PLAN_CACHE_MAX:
                _PLAN_CACHE.pop(next(iter(_PLAN_CACHE)))
            _PLAN_CACHE[key] = plan
        return df
    try:
        jds = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            spark._jsparkSession, plan
        )
        return DataFrame(jds, spark)
    except Exception:  # API drift — correctness over the fast path
        return spark.sql(to_sql(path))


def _remote_sig(spark: SparkSession, path: str) -> tuple | None:
    """(mtime, length) of a remote object via the Hadoop FileSystem API —
    the plan-cache invalidation signature for s3a://-style paths (one
    HEAD-equivalent metadata call; the reference pays the same probe as
    part of every DuckDB open)."""
    try:
        jvm = spark.sparkContext._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(
            spark.sparkContext._jsc.hadoopConfiguration()
        )
        st = fs.getFileStatus(hpath)
        return (st.getModificationTime(), st.getLen())
    except Exception:  # noqa: BLE001  (no FS for scheme / object missing)
        return None


def _fs_read_ops(spark: SparkSession) -> int:
    """Total filesystem read operations across all Hadoop FileSystem
    schemes — the analog of the reference's per-handle ranged-read counter
    (runner.cc:89,109-117, reported at runner.cc:348). Spark's scan path
    goes through the Hadoop FS API, whose global statistics count every
    positioned/streamed read; in local mode (like the reference's single
    process) driver and executors share one JVM, so the counter covers the
    whole run. Returns 0 when the JVM statistics are unreachable."""
    try:
        jvm = spark.sparkContext._jvm
        total = 0
        it = (
            jvm.org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics()
            .iterator()
        )
        while it.hasNext():
            stats = it.next()
            v = stats.getLong("readOps")
            total += int(v) if v is not None else 0
        return total
    except Exception:  # noqa: BLE001  (py4j/Hadoop internals unavailable)
        return 0


def _group_io(
    spark: SparkSession, groups: list[str]
) -> dict[str, tuple[int, int, int]]:
    """jobGroup → (inputBytes, inputRecords, scanTasks) summed over the
    COMPLETE attempts of each group's stages, read from the driver's
    in-process status store (no UI, no REST endpoint). The per-file analog
    of the reference's per-handle ReadStats (runner.cc:49-54): each
    fan-out file runs under its own job group, so grouping stage input
    metrics by job group recovers a per-source split.

    Group-scoped on purpose: cumulative whole-app totals break in
    long-lived sessions because the store EVICTS old stages past
    spark.ui.retainedStages; this run's own groups can't be evicted
    mid-run. The store is fed by an async listener bus, so drain it
    first. A job's end event is posted before its result reaches the
    caller, so one read after the drain is complete."""
    jvm_sc = spark.sparkContext._jsc.sc()
    jvm_sc.listenerBus().waitUntilEmpty()
    store = jvm_sc.statusStore()
    tracker = spark.sparkContext.statusTracker()
    out: dict[str, tuple[int, int, int]] = {}
    for group in groups:
        b = rec = t = 0
        for jid in tracker.getJobIdsForGroup(group):
            sids = store.job(jid).stageIds()
            for i in range(sids.size()):
                attempts = store.stageData(sids.apply(i), False, None, False, None)
                for k in range(attempts.size()):
                    sd = attempts.apply(k)
                    if sd.status().toString() != "COMPLETE":
                        continue
                    sb = sd.inputBytes()
                    b, rec = b + sb, rec + sd.inputRecords()
                    t += sd.numCompleteTasks() if sb > 0 else 0
        out[group] = (b, rec, t)
    return out


class FanoutRunner:
    """Run the per-object query over N parquet objects with j-way
    concurrency, collecting hits + I/O stats and printing the reference's
    report (runner.cc:343-358)."""

    _RUN_SEQ = itertools.count()

    def __init__(self, spark: SparkSession, threads: int = 4, print_rows: bool = False):
        self.spark = spark
        self.threads = threads
        self.print_rows = print_rows
        # job-group token is minted per run() (see run()) so a reused
        # runner never matches a previous run's job groups in _group_io —
        # minting here double-counted bytes on the second run() of the
        # same instance (r5 verdict, What's wrong #1)
        self._token: str | None = None

    def _run_one(self, idx_path: tuple[int, str]) -> tuple[str, int]:
        idx, path = idx_path
        # distinct FAIR pool per slot → jobs schedule round-robin like the
        # reference's pool threads, not FIFO behind each other
        self.spark.sparkContext.setLocalProperty(
            "spark.scheduler.pool", f"fanout-{idx % self.threads}"
        )
        # one job group per FILE → _group_io can split bytes per source,
        # the analog of the reference's per-handle ReadStats
        self.spark.sparkContext.setLocalProperty(
            "spark.jobGroup.id", f"{self._token}:{idx}"
        )
        # Arrow collection: hits are num_rows, so no per-row Python
        # objects are built unless the rows are printed
        tbl = flagship_on_file(self.spark, path).toArrow()
        if self.print_rows:
            for row in zip(*(c.to_pylist() for c in tbl.columns)):
                print(row, file=sys.stdout)
        return path, tbl.num_rows

    def run(self, sources: list[str]) -> dict:
        # fresh token per run: the job groups _group_io reads must be
        # unique to THIS run, not this instance (warm-up + timed run on
        # one runner previously summed both runs' stages → exactly 2× bytes)
        self._token = f"fanout-{os.getpid()}-{next(self._RUN_SEQ)}"
        # deterministic load-balancing shuffle, seed 1 (runner.cc:392)
        sources = list(sources)
        random.Random(1).shuffle(sources)
        ops0 = _fs_read_ops(self.spark)
        total_hits = 0
        failures: list[str] = []
        per_file: dict[str, int] = {}
        t0 = time.monotonic()
        # Analysis wave: populate the analyzed-plan cache for every source
        # concurrently BEFORE queueing executions. Analysis is driver-side
        # Catalyst work (footer read + resolution, ~90 ms/object,
        # GIL-released in the JVM); inside the j-limited pool it
        # serializes into the execution critical path, so a cold run pays
        # (analysis+exec) per wave. As one wide wave the cold wall is
        # max(analysis) + exec waves — the reference pays the same
        # per-object open+parse inside its pool tasks (runner.cc:197-218),
        # so this wave stays inside the timed window: a scheduling change,
        # not a measurement change. Width is bounded: analysis is cheap
        # but not free.
        wave = min(len(sources), max(self.threads, 16))

        def _preanalyze(p: str) -> None:
            try:
                flagship_on_file(self.spark, p)
            except Exception:  # noqa: BLE001 — R14: the execution
                pass  # task rediscovers and isolates the failure

        with ThreadPoolExecutor(max_workers=wave) as prepool:
            list(prepool.map(_preanalyze, sources))
        with ThreadPoolExecutor(max_workers=self.threads) as pool:
            for fut in [
                pool.submit(self._run_one, (i, p)) for i, p in enumerate(sources)
            ]:
                try:
                    path, hits = fut.result()
                    per_file[path] = hits
                    total_hits += hits
                except Exception as ex:  # noqa: BLE001  per-task isolation (R14)
                    failures.append(str(ex))
                    print(f"error: {ex}", file=sys.stderr)
        wall = time.monotonic() - t0
        groups = [f"{self._token}:{i}" for i in range(len(sources))]
        try:
            gm = _group_io(self.spark, groups)
        except Exception as ex:  # noqa: BLE001 — reported, never silent
            # the absence is null, never 0 (ADVICE r2: zeros read as
            # measurements), and the cause goes to stderr
            print(
                f"warning: status-store I/O metrics unavailable ({ex!r}); "
                "byte/record metrics reported as null",
                file=sys.stderr,
            )
            gm = None
        # filesystem-level ranged-read count when the FS tracks it (s3a —
        # the reference's deployment, runner.cc:89); per-split scan-task
        # count as the local-FS approximation (RawLocalFileSystem never
        # increments readOps)
        fs_ops = _fs_read_ops(self.spark) - ops0
        if gm is None:
            read_bytes = read_records = per_file_bytes = None
            read_ops = fs_ops if fs_ops > 0 else None
        else:
            read_bytes = sum(b for b, _, _ in gm.values())
            read_records = sum(r for _, r, _ in gm.values())
            scan_tasks = sum(t for _, _, t in gm.values())
            read_ops = fs_ops if fs_ops > 0 else scan_tasks
            per_file_bytes = {p: gm[g][0] for p, g in zip(sources, groups)}
        report = {
            "sources": len(sources),
            "threads": self.threads,
            "total_query_time_sec": round(wall, 3),
            "hits": total_hits,
            "read_bytes": read_bytes,
            "read_records": read_records,
            "read_ops": read_ops,
            "failures": len(failures),
            "per_file_hits": per_file,
            "per_file_bytes": per_file_bytes,
        }
        self._print_report(report)
        return report

    @staticmethod
    def _print_report(rep: dict) -> None:
        # same fields the reference prints to stderr (runner.cc:343-358)
        e = sys.stderr
        print(f"== total sources: {rep['sources']}", file=e)
        print(f"== total threads: {rep['threads']}", file=e)
        print(f"== total query time: {rep['total_query_time_sec']} s", file=e)
        print(f"== total hits: {rep['hits']}", file=e)
        print(f"== spark read ops: {rep['read_ops']}", file=e)
        print(f"== spark read records: {rep['read_records']}", file=e)
        b = rep["read_bytes"]
        if b is None:
            print("== spark read bytes: null (metrics unavailable)", file=e)
        else:
            print(
                f"== spark read bytes: {b} ({b / 1024:.1f} KB, {b / 1024 ** 2:.1f} MB)",
                file=e,
            )


def split_objects_path(sf_dir: str, n: int = 8) -> str:
    """Deterministic location of the split-object layout for sf_dir —
    computable WITHOUT a SparkSession (the --via-loopback server must know
    its root before the JVM starts, since the s3a endpoint conf is fixed
    at session build). The key carries a content fingerprint of the
    lineitem fixture the objects are split from: path-keyed derived
    caches go stale when a probe rebuilds its fixtures in place (see
    registry.fixture_fingerprint)."""
    from ocs_duckdb_runner_spark.registry import fixture_fingerprint

    tag = sf_dir.strip("/").replace("/", "_")
    return (
        f"/tmp/ocs_fanout_objects/{tag}_{n}_"
        f"{fixture_fingerprint(sf_dir, 'lineitem')}"
    )


def split_objects(
    spark: SparkSession, sf_dir: str, n: int = 8, out: str | None = None
) -> str:
    """Materialize lineitem as n independent parquet objects (the
    reference's many-objects-on-S3 layout, README.md:56) under /tmp,
    keyed by sf_dir + content fingerprint — created once, reused across
    runs. Pass a precomputed ``out`` when the location was pinned
    earlier in the process (the --via-loopback server root is computed
    before the JVM starts; recomputing here could diverge if the fixture
    were touched in between). Superseded fingerprint generations for the
    same sf_dir are vacuumed on materialize — each rebuild would
    otherwise leak a full split copy under /tmp."""
    from ocs_duckdb_runner_spark.registry import vacuum_cache_siblings

    out = out or split_objects_path(sf_dir, n)
    marker = f"{out}/_SUCCESS"
    if not os.path.exists(marker):
        tag = sf_dir.strip("/").replace("/", "_")
        vacuum_cache_siblings(
            "/tmp/ocs_fanout_objects", f"{tag}_{n}", os.path.basename(out)
        )
        li = load_table(spark, sf_dir, "lineitem")
        li.repartition(n, "l_orderkey").write.mode("overwrite").parquet(out)
    return out


@query("runner_fanout", oracle=None, tags=("runner", "reference"))
def runner_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The harness as a declared query: lineitem split into 8 parquet
    objects, the fixed per-object query fanned out over them, per-object
    hit counts returned (hash-partitioned split → deterministic counts).
    Rows-only driver check; the report shape itself is checked by
    tests/test_runner.py."""
    objdir = split_objects(spark, sf_dir, 8)
    files = sorted(
        f"{objdir}/{f}" for f in os.listdir(objdir) if f.endswith(".parquet")
    )
    runner = FanoutRunner(spark, threads=4)
    rep = runner.run(files)
    rows = [
        (i, os.path.basename(p), rep["per_file_hits"].get(p, -1))
        for i, p in enumerate(files)
    ]
    return spark.createDataFrame(rows, "part_idx int, object string, hits long")


def normalize_source(line: str) -> str:
    """One stdin source line → a Spark-readable path. The reference's
    README feeds quoted 's3://bucket/key' lines (README.md:74-76); Spark's
    object-store connector is s3a, so s3:// rewrites to s3a://."""
    src = line.strip().strip("'\"")
    if src.startswith("s3://"):
        src = "s3a://" + src[len("s3://") :]
    return src


def main(argv: list[str] | None = None) -> int:
    """CLI mirroring the reference (runner.cc:361-395): parquet object
    paths on stdin, one per line; -j pool size; -a/-i/-k/-p the S3
    address/access-id/secret-key/port exactly as the reference spells
    them, mapped onto the s3a connector via session.S3Config
    (runner.cc:205-217). Example (README.md:74):

        python -m ocs_duckdb_runner_spark.runner -a 127.0.0.1 -p 9000 -j 4 <<EOF
        's3://ocs/xx_036785.parquet'
        EOF
    """
    ap = argparse.ArgumentParser(
        description="fan one fixed analytical query out over parquet objects"
    )
    ap.add_argument("-j", type=int, default=4, help="pool threads (default 4)")
    ap.add_argument("-a", metavar="ADDR", default=None, help="s3 server address")
    ap.add_argument("-i", metavar="ID", default="", help="s3 access key id")
    ap.add_argument("-k", metavar="KEY", default="", help="s3 secret access key")
    ap.add_argument(
        "-p", metavar="PORT", type=int, default=9000, help="s3 port (default 9000)"
    )
    ap.add_argument("--print-rows", action="store_true", help="print result rows")
    ap.add_argument(
        "--split-sf-dir",
        help="instead of stdin: split this fixture dir's lineitem into "
        "objects and fan out over them",
    )
    ap.add_argument("--split-n", type=int, default=8)
    ap.add_argument(
        "--via-loopback",
        action="store_true",
        help="serve LOCAL sources through the in-repo loopback s3a "
        "endpoint so every ranged read is counted per-request on both "
        "sides (the reference's MonitoredFileSystem observation, "
        "runner.cc:109-117) — local file:// scans report bytes but not "
        "readOps, this flag closes that accounting gap",
    )
    args = ap.parse_args(argv)

    from ocs_duckdb_runner_spark.session import S3Config, build_spark

    s3 = None
    if args.a:
        s3 = S3Config(
            endpoint=f"http://{args.a}:{args.p}",
            access_key_id=args.i,
            secret_access_key=args.k,
        )
    # sources BEFORE the session: s3a needs its FileSystem impl on the
    # driver classpath, which is fixed at JVM start
    sources: list[str] = []
    if not args.split_sf_dir:
        sources = [normalize_source(line) for line in sys.stdin if line.strip()]
        if not sources:
            print("no sources on stdin", file=sys.stderr)
            return 2
    extra_conf = {"spark.scheduler.mode": "FAIR"}
    loopback_srv = None
    loopback_root = None
    if args.via_loopback:
        from ocs_duckdb_runner_spark.sources import loopback_s3
        from ocs_duckdb_runner_spark.sources.s3_loopback_server import (
            S3LoopbackServer,
        )

        if args.split_sf_dir:
            # the split layout's path is deterministic; the server can
            # start over it before the objects exist (requests only
            # arrive after split_objects writes them)
            loopback_root = split_objects_path(args.split_sf_dir, args.split_n)
            os.makedirs(loopback_root, exist_ok=True)
        else:
            local = [s for s in sources if "://" not in s]
            if len(local) != len(sources):
                print(
                    "--via-loopback requires local file sources",
                    file=sys.stderr,
                )
                return 2
            loopback_root = os.path.commonpath(
                [os.path.dirname(os.path.abspath(s)) for s in local]
            )
            sources = [
                "s3a://ocs/"
                + os.path.relpath(os.path.abspath(s), loopback_root)
                for s in local
            ]
        loopback_srv = S3LoopbackServer(loopback_root).start()
        s3 = S3Config(
            endpoint=f"http://127.0.0.1:{loopback_srv.port}",
            access_key_id="loopback",
            secret_access_key="loopback",
        )
        extra_conf.update(loopback_s3.loopback_conf(loopback_s3.ensure_jar()))
        print(
            "== local sources via loopback s3a endpoint "
            f"(root={loopback_root}; per-request ranged-read accounting on)",
            file=sys.stderr,
        )
    if any(src.startswith("s3a://") for src in sources) and not args.via_loopback:
        from ocs_duckdb_runner_spark.sources import loopback_s3

        if not loopback_s3.hadoop_aws_available():
            # no hadoop-aws on the classpath: wire s3a:// to the compiled
            # loopback FS (HTTP ranged reads against -a/-p) so the
            # reference's object-store protocol still runs end-to-end
            extra_conf.update(loopback_s3.loopback_conf(loopback_s3.ensure_jar()))
            print(
                "== s3a via loopback FS (hadoop-aws jars not present)",
                file=sys.stderr,
            )
    try:
        spark = build_spark(
            app_name="ocs-duckdb-runner-spark-fanout",
            s3=s3,
            extra_conf=extra_conf,
        )
        if args.split_sf_dir:
            # reuse the pre-JVM loopback root if one was pinned: the
            # fingerprint must not be recomputed across the JVM boundary
            objdir = split_objects(
                spark, args.split_sf_dir, args.split_n, out=loopback_root
            )
            names = sorted(
                f for f in os.listdir(objdir) if f.endswith(".parquet")
            )
            if args.via_loopback:
                sources = [f"s3a://ocs/{f}" for f in names]
            else:
                sources = [f"{objdir}/{f}" for f in names]
        rep = FanoutRunner(
            spark, threads=args.j, print_rows=args.print_rows
        ).run(sources)
        if loopback_srv is not None:
            snap = loopback_srv.stats.snapshot()
            print(
                "== loopback server: "
                f"{snap['ranged_get_requests']} ranged GETs, "
                f"{snap['head_requests']} HEADs, "
                f"{snap['bytes_served']} bytes served",
                file=sys.stderr,
            )
        return 0 if rep["failures"] == 0 else 1
    finally:
        if loopback_srv is not None:
            loopback_srv.stop()


if __name__ == "__main__":
    raise SystemExit(main())
