#!/usr/bin/env python3
"""fsql_spark benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload files --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The first run of a workload builds the
source tables, partition trees and caches under ``perfbench/.work/``, in a
child process with a JVM of its own and outside ``setup_s``; later runs only
validate them. The run starts one ``local[4]`` session, warms up, then
runs whole passes of the workload's op list until ``--seconds`` have gone
by (``--trace 1`` instead runs one pass with every op run twice, traced
and untraced). Each op is timed from the public call until its action
completes; hygiene checks, verification and status-store reads happen
outside that interval. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The line
before it carries the run's details (op count, tail percentile, host probe,
failures). Any set-up failure exits non-zero without a result and names
the step that failed.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
#: (scale factor of the tables, of documents and embeddings) per workload:
#: compute's joins and aggregates run on sf0.1, where Spark jobs take most
#: of an op's time; its corpus ops and the files workload stay at sf0.01 so
#: a traced run (every op twice) fits in the run time limit.
SCALES = {"files": (0.01, 0.01), "compute": (0.1, 0.01)}
CPUS = 4
SETUP_REPEATS = 3
BUILD_TIMEOUT_S = 780
#: files a checkout must hold for the benchmark to run
REQUIRED = ("fsql_spark/__init__.py", "__spark_entry__.py", "tests/driver_mimic.py")


class SetupError(Exception):
    pass


@contextlib.contextmanager
def step(name: str):
    """Any exception inside aborts the run, naming the set-up step."""
    try:
        yield
    except SetupError:
        raise
    except Exception as exc:
        raise SetupError(f"set-up step {name!r} failed: {exc!r}\n{traceback.format_exc()}") from exc


def process_age_s() -> float:
    """Seconds since this process started."""
    with open("/proc/self/stat") as fd:
        start_ticks = int(fd.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fd:
        uptime = float(fd.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fd:
            for line in fd:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


#: Percentile behind ``op_tail_ms``. A run is one pass of about 30 ops, so
#: fewer than ten ops lie beyond it; see perfbench/README.md.
TAIL_PCT = 90


# --- environment and session ----------------------------------------------


def configure_env() -> None:
    for rel in REQUIRED:
        if not os.path.isfile(os.path.join(ROOT, rel)):
            raise SetupError(f"set-up step 'checkout' failed: {rel} not found under {ROOT}")
    tmp = os.path.join(WORK, "tmp")  # removed when the run ends
    for sub in (os.path.join(tmp, "warehouse"), "spark-local", "trace"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    import tempfile

    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # Python workers import fsql_spark whatever the working directory is
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    confs = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # nothing evicted before the traced pass is read back
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
        # the warehouse holds only this process's session tables
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(f"--conf {k}={v}" for k, v in confs.items()) + " pyspark-shell"


def start_session():
    import fsql_spark.fsql_catalog as fsql_catalog
    from fsql_spark.session import get_spark

    # the catalog's build-once trees live inside the checkout
    fsql_catalog._TREE_ROOT = os.path.join(WORK, "trees")
    spark = get_spark(app_name="fsql-perfbench", master=f"local[{CPUS}]", shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# --- inputs -------------------------------------------------------------


def _fingerprint(*parts: str) -> str:
    import hashlib

    h = hashlib.sha256()
    for p in parts:
        h.update(p.encode())
    return h.hexdigest()[:12]


def _source(path: str) -> str:
    with open(path) as fd:
        return fd.read()


def _ready(path: str, fp: str) -> bool:
    marker = os.path.join(path, "_PERFBENCH_READY")
    return os.path.exists(marker) and _source(marker) == fp


def _build_dir(path: str, fp: str, build) -> None:
    """Build ``path`` unless its marker names this fingerprint."""
    if _ready(path, fp):
        return
    shutil.rmtree(path, ignore_errors=True)
    staging = path + ".staging"
    shutil.rmtree(staging, ignore_errors=True)
    build(staging)
    with open(os.path.join(staging, "_PERFBENCH_READY"), "w") as fd:
        fd.write(fp)
    os.rename(staging, path)


def data_dir(workload: str) -> tuple[str, str]:
    """The flat source tables; rebuilt only when the generator changes."""
    import datagen

    sf, corpus_sf = SCALES[workload]
    fp = _fingerprint(_source(datagen.__file__), str(sf), str(corpus_sf))
    path = os.path.join(WORK, "data", f"sf{sf}_docs{corpus_sf}")
    _build_dir(path, fp, lambda staging: datagen.write(staging, sf, corpus_sf))
    return path, fp


def scan_tree(spark, sf_dir: str, fp: str) -> str:
    """lineitem written Hive-style by year/month/day of l_shipdate."""
    from pyspark.sql import functions as F

    import workloads
    from fsql_spark import write_table

    path = os.path.join(WORK, "scan", "lineitem_ymd")

    def build(staging):
        df = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
        df = df.where(F.col("l_shipdate") < F.lit(workloads.SCAN_TREE_END).cast("timestamp"))
        df = (
            df.withColumn("year", F.year("l_shipdate").cast("string"))
            .withColumn("month", F.month("l_shipdate").cast("string"))
            .withColumn("day", F.dayofmonth("l_shipdate").cast("string"))
        )
        write_table(df.repartition("year", "month", "day"), staging, partition_by=["year", "month", "day"])

    os.makedirs(os.path.dirname(path), exist_ok=True)
    _build_dir(path, _fingerprint(fp, workloads.SCAN_TREE_END), build)
    return path


def ingest_pristine(spark, fp: str) -> str:
    """The day/hour events tree every ingest run starts from."""
    import pandas as pd

    import workloads
    from fsql_spark import write_table

    pristine = os.path.join(WORK, "ingest", "pristine")

    def build(staging):
        pdf = pd.concat([workloads.ingest_batch(0, d) for d in range(workloads.INGEST_DAYS)])
        write_table(spark.createDataFrame(pdf).repartition("day", "hour"), staging, partition_by=["day", "hour"])

    os.makedirs(os.path.dirname(pristine), exist_ok=True)
    _build_dir(pristine, _fingerprint(fp, _source(workloads.__file__)), build)
    return pristine


def reset_tree(pristine: str) -> str:
    """A fresh live copy of ``pristine``; ops write only to the copy."""
    live = os.path.join(os.path.dirname(pristine), "live")
    shutil.rmtree(live, ignore_errors=True)
    shutil.copytree(pristine, live)
    return live


def prepare(spark, workload: str) -> tuple[str, str, str]:
    """Validate (or build) every input of ``workload``: (flat table dir, scan
    tree, pristine ingest tree)."""
    sf_dir, fp = data_dir(workload)
    files = workload == "files"
    scan_root = scan_tree(spark, sf_dir, fp) if files else ""
    pristine = ingest_pristine(spark, fp) if files else ""
    catalog_caches(spark, workload, sf_dir)
    return sf_dir, scan_root, pristine


def _built_marker(workload: str) -> tuple[str, str]:
    """The marker of a finished build, fingerprinting the benchmark and the
    package whose builders made the trees and caches."""
    sources = [os.path.join(HERE, f) for f in ("datagen.py", "workloads.py", "run.py")]
    for dirpath, dirs, files in os.walk(os.path.join(ROOT, "fsql_spark")):
        dirs.sort()
        sources += [os.path.join(dirpath, f) for f in sorted(files) if f.endswith(".py")]
    fp = _fingerprint(*(_source(f) for f in sources + [os.path.join(ROOT, "__spark_entry__.py")]))
    return os.path.join(WORK, f"built-{workload}"), fp


def _inventory() -> dict[str, int]:
    """Every built table, tree and cache directory with its mtime, so a
    preparation in the timed process can prove it built nothing."""
    import glob

    dirs = glob.glob(os.path.join(WORK, "*", "*")) + glob.glob(os.path.join(WORK, "trees", "*", "*"))
    skip = tuple(os.path.join(WORK, d) + os.sep for d in ("tmp", "spark-local", "trace"))
    return {d: os.stat(d).st_mtime_ns for d in dirs if not d.startswith(skip) and not d.endswith("live")}


def build_inputs(workload: str) -> None:
    """Child-process entry: build every input of ``workload`` in a JVM of its
    own, so the timed run never starts from a JVM the build has warmed."""
    configure_env()
    sys.path.insert(0, HERE)
    spark = start_session()
    try:
        prepare(spark, workload)
    finally:
        shutdown(spark)
    marker, fp = _built_marker(workload)
    with open(marker, "w") as fd:
        fd.write(fp)


def ensure_built(workload: str) -> float:
    """Run ``build_inputs`` in a child process unless this checkout already
    built this workload's inputs; returns the seconds it took."""
    import subprocess

    marker, fp = _built_marker(workload)
    if os.path.exists(marker) and _source(marker) == fp:
        return 0.0
    t0 = time.perf_counter()
    code = f"import sys; sys.path.insert(0, {HERE!r}); import run; run.build_inputs({workload!r})"
    try:
        child = subprocess.run([sys.executable, "-c", code], cwd=ROOT, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise SetupError(f"set-up step 'build' failed: the build process ran over {BUILD_TIMEOUT_S} s") from None
    finally:
        reap_children()  # the build's JVM and Python workers, whatever happened
    if child.returncode != 0:
        raise SetupError(f"set-up step 'build' failed: the build process exited with {child.returncode}")
    return time.perf_counter() - t0


def catalog_caches(spark, workload: str, sf_dir: str) -> None:
    """Build (first run) or find (later runs) the catalog's build-once trees
    and caches, calling their builders directly."""
    if workload == "compute":
        from fsql_spark.operators.dedup import corpus_signatures_cached

        corpus_signatures_cached(spark, sf_dir, num_hashes=64, ngram=3)
        return
    from fsql_spark import fsql_catalog as c
    from fsql_spark.streaming import windows

    # the trees of workloads.SCAN_ENTRIES and the sources of SINKING_ENTRIES;
    # the sinking entries' own trees are written by every timed call
    for build in (
        c._orders_ym_tree, c._orders_ymd_tree, c._orders_ym_orc_tree, c._part_brand_csv_tree,
        c._docs_lang_jsongz_tree, c._orders_compacted_tree, c._orders_manyfile_tree,
        c._nation_by_region_tree, c._orders_sorted_tree, c._orders_zorder_tree,
        c._orders_restated_tree, c._orders_drift_tree, c._orders_retention_tree,
        windows.events_batch_tree,
    ):
        build(spark, sf_dir)


def session_tables(spark, workload: str, sf_dir: str) -> None:
    """Build the managed tables of ``q_fsql_bucketed_join``: they live in the
    session's in-memory catalog, so every process builds them once."""
    if workload == "files":
        from fsql_spark import fsql_catalog

        fsql_catalog._bucketed_pair(spark, sf_dir)


class Oracle:
    """DuckDB oracle hashes of catalog entries, computed once per run."""

    def __init__(self, duck):
        self.duck = duck
        self.hashes: dict[str, str] = {}

    def __call__(self, name: str) -> str:
        if name not in self.hashes:
            import __spark_entry__
            from driver_mimic import canonical, value_hash

            sql = __spark_entry__.oracle_sql()[name]
            self.hashes[name] = value_hash(canonical(self.duck.execute(sql).fetchdf()))
        return self.hashes[name]


# --- state hygiene ------------------------------------------------------


class Hygiene:
    """Counts what an op leaves behind, then resets it: persisted RDDs and
    cached plans, and session confs that differ from the start."""

    def __init__(self, spark):
        self.spark = spark
        self.baseline = dict(spark.conf.getAll)
        self.drifted: set[str] = set()

    def check_and_reset(self) -> tuple[int, int]:
        spark = self.spark
        rdds = spark.sparkContext._jsc.getPersistentRDDs()
        cached_plans = 0 if spark._jsparkSession.sharedState().cacheManager().isEmpty() else 1
        leaked = max(rdds.size(), cached_plans)
        conf = dict(spark.conf.getAll)
        drift = [k for k in set(conf) | set(self.baseline) if conf.get(k) != self.baseline.get(k)]
        self.drifted.update(drift)
        if leaked:
            spark.catalog.clearCache()
            for rdd in list(rdds.values()):
                rdd.unpersist(True)
        for key in drift:
            with contextlib.suppress(Exception):  # static confs cannot change anyway
                if key in self.baseline:
                    spark.conf.set(key, self.baseline[key])
                else:
                    spark.conf.unset(key)
        return leaked, len(drift)


def host_probe_ms(spark) -> float:
    """Pinned JVM job, a host-noise marker; never used to normalize."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    spark.range(0, 20_000_000, 1, CPUS).select(F.sum(F.bit_count(F.xxhash64("id")))).collect()
    return (time.perf_counter() - t0) * 1e3


# --- the loop -----------------------------------------------------------


class Record:
    """One op execution."""

    def __init__(self, op, group: str, traced: bool):
        self.op, self.group, self.traced = op, group, traced
        self.t0 = self.t1 = self.t2 = 0.0  # epoch ms: call, build returned, action done
        self.result = None
        self.error: tuple[str, str] | None = None  # (phase, message)
        self.layer: dict = {}
        self.ls_calls, self.ls_ms = 0, 0.0
        self.leaked, self.drift = 0, 0
        self.span = self.build_span = self.action_span = None

    @property
    def ms(self) -> float:
        return self.t2 - self.t0


def run_op(op, group: str, ctx, spark, hygiene, tracer, counting_fs, stream) -> Record:
    from tracing import now_ms

    rec = Record(op, group, tracer.enabled)
    sc = spark.sparkContext
    sc.setJobGroup(group, op.key)
    if stream is not None:
        stream.current_op = group
    rec.span, rec.build_span, rec.action_span = tracer.reserve(), tracer.reserve(), tracer.reserve()
    ctx.fs = counting_fs if tracer.enabled else None
    if counting_fs is not None:
        counting_fs.calls, counting_fs.ms = 0, 0.0
        counting_fs.op, counting_fs.parent = group, rec.build_span
    ctx.layer = {}
    phase = "build"
    rec.t0 = now_ms()
    try:
        if op.prepare is not None:
            op.prepare(ctx)
            rec.t0 = now_ms()  # the preparation is not timed
        built = op.build(ctx)
        rec.t1 = now_ms()
        phase = "action"
        rec.result = op.action(built)
    except Exception as exc:  # an op failure is counted, never fatal
        rec.error = (phase, f"{type(exc).__name__}: {str(exc).splitlines()[0][:300] if str(exc) else ''}")
        rec.t1 = rec.t1 or now_ms()
    rec.t2 = now_ms()
    rec.layer = dict(ctx.layer)
    if counting_fs is not None:
        rec.ls_calls, rec.ls_ms = counting_fs.calls, counting_fs.ms
    sc._jsc.clearJobGroup()
    rec.leaked, rec.drift = hygiene.check_and_reset()
    tracer.add("op", rec.t0, rec.t2, None, group, span_id=rec.span, key=op.key, module=op.module)
    tracer.add("build", rec.t0, rec.t1, rec.span, group, span_id=rec.build_span)
    tracer.add("action", rec.t1, rec.t2, rec.span, group, span_id=rec.action_span)
    return rec


def verify(records: list[Record], ctx, tracer) -> dict[str, str]:
    """Check the first result of every op key; returns key -> failure."""
    from driver_mimic import canonical, value_hash

    from tracing import now_ms

    bad: dict[str, str] = {}
    seen: set[str] = set()
    for rec in records:
        key = rec.op.key
        if rec.error or key in seen:
            continue
        seen.add(key)
        t0 = now_ms()
        try:
            got = rec.result
            if rec.op.kind == "entry":
                got = value_hash(canonical(got))
            want = rec.op.expect(ctx)
            if got != want:
                bad[key] = f"result {got!r} != expected {want!r}"
        except Exception as exc:
            bad[key] = f"verification raised {type(exc).__name__}: {exc}"
        tracer.add("verify", t0, now_ms(), None, key)
    return bad


def run_passes(ops, seconds: float, run_one) -> tuple[list[Record], float]:
    """Whole passes of ``ops`` until ``seconds`` have gone by."""
    records: list[Record] = []
    t0 = time.perf_counter()
    passes = 0
    while passes == 0 or time.perf_counter() - t0 < seconds:
        for i, op in enumerate(ops):
            records.append(run_one(op, f"u:{passes}:{i}:{op.key}"))
        passes += 1
    return records, time.perf_counter() - t0


def shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    proc.wait(timeout=60)


def adopt_orphans() -> None:
    """Make this process the subreaper of every process it starts: one that
    outlives its parent (a Python worker of a stopped JVM, the JVM of a
    build process) is re-parented here, so ``reap_children`` can stop it."""
    import ctypes

    pr_set_child_subreaper = 36
    ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0)


def _children() -> list[int]:
    me = os.getpid()
    kids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fd:
                ppid = int(fd.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == me:
            kids.append(int(entry))
    return kids


def reap_children(grace_s: float = 3.0, term_s: float = 5.0) -> None:
    """Wait for every child to end: ``grace_s`` for it to exit by itself,
    then SIGTERM, then after ``term_s`` more SIGKILL. Orphaned descendants
    become children here (see ``adopt_orphans``) and are waited for too."""
    import signal

    t0 = time.monotonic()
    while True:
        with contextlib.suppress(ChildProcessError):
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        kids = _children()
        if not kids:
            return
        waited = time.monotonic() - t0
        if waited > grace_s:
            sig = signal.SIGTERM if waited <= grace_s + term_s else signal.SIGKILL
            for pid in kids:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, sig)
        time.sleep(0.05)


# --- main ---------------------------------------------------------------


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    adopt_orphans()
    session: list = []
    try:
        return _main(args, session)
    except SetupError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 2
    finally:
        try:
            if session:
                shutdown(session[0])
        finally:
            reap_children()
            shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)


def _main(args, session: list) -> int:
    with step("checkout"):
        configure_env()
        sys.path.insert(0, HERE)
        import workloads

        if args.workload not in workloads.WORKLOADS:
            raise SetupError(f"unknown workload {args.workload!r}; choose from {workloads.WORKLOADS}")
    with step("build"):
        build_s = ensure_built(args.workload)
    with step("session"):
        # session ready means its first job ran and the catalog is imported
        spark = start_session()
        session.append(spark)
        host_probe_ms(spark)
        entries = workloads.catalog()
        session_s = process_age_s() - build_s
    prepare_times = []
    with step("trees"):
        from driver_mimic import duck_connect

        built = _inventory()
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            sf_dir, scan_root, pristine = prepare(spark, args.workload)
            ops = workloads.op_list(args.workload, args.seed, entries)
            prepare_times.append(time.perf_counter() - t0)
        changed = sorted(set(built.items()) ^ set(_inventory().items()))
        if changed:
            # the build belongs in the child process, outside setup_s
            raise SetupError(f"set-up step 'trees' built in the timed process: {changed}")
        t0 = time.perf_counter()
        session_tables(spark, args.workload, sf_dir)
        live = reset_tree(pristine) if pristine else ""
        duck = duck_connect(sf_dir)
        reset_s = time.perf_counter() - t0
    ctx = workloads.Ctx(spark, sf_dir, scan_root, live, duck=duck, oracle=Oracle(duck))
    ctx.sink_dir = os.path.join(WORK, "tmp", "sinks")
    with step("warmup"):
        t0 = time.perf_counter()
        hygiene = Hygiene(spark)
        from tracing import CountingFileSystem, StatusReader, StreamProgress, Tracer

        tracer = Tracer(enabled=False)
        for i, op in enumerate(workloads.warmup_ops(args.workload, entries)):
            rec = run_op(op, f"w:{i}:{op.key}", ctx, spark, hygiene, tracer, None, None)
            if rec.error:
                raise RuntimeError(f"warm-up op {op.key} failed in {rec.error[0]}: {rec.error[1]}")
        probe_before = host_probe_ms(spark)
        warmup_s = time.perf_counter() - t0
    trees_s = statistics.median(prepare_times) + reset_s
    jvm_pid = spark.sparkContext._gateway.proc.pid
    # process start to the first timed op, without the child build and with
    # the median of the repeated preparations in place of all of them
    setup_s = process_age_s() - build_s - (sum(prepare_times) - statistics.median(prepare_times))
    if not args.trace:
        records, wall = run_passes(
            ops, args.seconds, lambda op, group: run_op(op, group, ctx, spark, hygiene, tracer, None, None)
        )
        timed = records
        probe_after = host_probe_ms(spark)
        rss = peak_rss_mb([os.getpid(), jvm_pid])
    else:
        # each op runs once untraced and once traced, in alternating order,
        # so the paired difference is the tracing overhead
        tracer = Tracer(enabled=True)
        counting_fs = CountingFileSystem(tracer)
        stream = StreamProgress()
        spark.streams.addListener(stream.listener())
        records = []
        t_loop = time.perf_counter()
        for i, op in enumerate(ops):
            order = (False, True) if i % 2 == 0 else (True, False)
            for traced in order:
                if traced:
                    rec = run_op(op, f"t:0:{i}:{op.key}", ctx, spark, hygiene, tracer, counting_fs, stream)
                else:
                    rec = run_op(op, f"u:0:{i}:{op.key}", ctx, spark, hygiene, Tracer(False), None, stream)
                records.append(rec)
        wall = time.perf_counter() - t_loop
        timed = [r for r in records if not r.traced]
        probe_after = host_probe_ms(spark)
        rss = peak_rss_mb([os.getpid(), jvm_pid])
    bad = verify(records, ctx, tracer)

    failures = []
    for rec in records:
        if rec.error:
            failures.append({"op": rec.op.key, "phase": rec.error[0], "error": rec.error[1]})
        elif rec.op.key in bad:
            failures.append({"op": rec.op.key, "phase": "verify", "error": bad[rec.op.key]})
    attempted = len(records)
    failed = len(failures)
    ok_ms = [r.ms for r in timed if not r.error]
    details = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "ops_per_pass": len(ops),
        "ops_timed": len(timed),
        "passes": len(timed) // len(ops),
        "loop_s": round(wall, 3),
        "tail_percentile": TAIL_PCT,
        "failed_frac": failed / attempted,
        "host_probe_ms": {"before": round(probe_before, 2), "after": round(probe_after, 2)},
        "setup": {
            "build_s": build_s, "session_s": session_s, "prepare_s": prepare_times, "reset_s": reset_s,
            "warmup_s": warmup_s,
        },
        "op_ms": {r.op.key: round(r.ms, 1) for r in timed[: len(ops)]},
        "rss_mb": {"python": peak_rss_mb([os.getpid()]), "jvm": peak_rss_mb([jvm_pid])},
        "leaking_ops": sorted({r.op.key for r in records if r.leaked}),
        "drifting_ops": sorted({r.op.key for r in records if r.drift}),
        "drifted_confs": sorted(hygiene.drifted),
        "failures": failures[:50],
    }
    if args.trace:
        from layers import per_layer_metrics

        metrics, extra = per_layer_metrics(
            records, StatusReader(spark), stream, tracer, ctx,
            setup={"session_s": session_s, "trees_s": trees_s, "warmup_s": warmup_s},
            probes=(probe_before, probe_after),
        )
        details.update(extra)
        trace_path = os.path.join(WORK, "trace", f"{args.workload}-seed{args.seed}.json")
        tracer.dump(trace_path)
        details["trace_file"] = os.path.relpath(trace_path, ROOT)
    else:
        import numpy as np

        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "op_p50_ms": {"value": statistics.median(ok_ms) if ok_ms else 0.0, "unit": "ms"},
            "op_tail_ms": {"value": float(np.percentile(ok_ms, TAIL_PCT)) if ok_ms else 0.0, "unit": "ms"},
            "ops_per_s": {"value": len(ok_ms) / wall, "unit": "1/s"},
            "peak_rss_mb": {"value": rss, "unit": "MB"},
        }
    print(json.dumps(details))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
