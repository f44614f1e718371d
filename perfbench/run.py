"""The repository benchmark: one workload per run, closed loop, one client.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 15 --trace 0

A run starts from one fixed state: the engine's write-once layouts for
the fixture directory are absent, so a set-up that needs them pays for
building them every time. Then it

1. sets up (``setup_s``): process start -> ``get_session`` on
   ``local[nproc - 1]`` -> one untimed warm pass that verifies every key's
   answer;
2. after ``WARM_PASSES`` untimed passes, times passes over the
   verified keys, in an order permuted by ``--seed``, until
   ``--seconds`` have gone by, and reports medians over them
   (``pass_s``, ``query_p50_s``, ``peak_rss_mb``); each key starts
   only after the previous one ended;
3. with ``--trace 1``, runs one more pass with spans around the calls
   into each layer (``tracing.py``) and reports the per-layer metrics
   instead of the end-to-end ones.

The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``. The line before it
is the report: host facts, per-key walls and job counts and, traced,
the per-key layer split. The same report, with every span, is written
under ``.perfbench_work/reports``. Everything the run writes stays in
the checkout: Spark's local and temp dirs and the warehouse are
pointed at ``.perfbench_work``.

``--smoke`` runs the workload at sf0.01, for the benchmark's own tests
(``python3 -m pytest perfbench``). ``--expected`` replaces
``expected.json``.
"""

from __future__ import annotations

import time

_PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from importlib.util import find_spec  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
FIXTURE_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
MB = 1e6
#: Untimed passes between set-up and the timed window. Pass walls keep
#: falling for the first passes after the verifying one, while the JVM
#: compiles the hot paths; the window starts after the steepest part.
WARM_PASSES = 1
#: ``settle`` waits for the JVM's resident set to move less than this
#: in 0.1 s, for at most ``SETTLE_MAX_S``.
SETTLE_RSS_MB = 2.0
SETTLE_MAX_S = 3.0


def fixture_fingerprint(sf_dir: str) -> str:
    """sha256 over each table's name, size and content; no mtime, so a
    re-materialized but identical fixture keeps its answers."""
    h = hashlib.sha256()
    for t in FIXTURE_TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        with open(path, "rb") as fh:
            digest = hashlib.sha256(fh.read()).hexdigest()
        h.update(f"{t}:{os.path.getsize(path)}:{digest}|".encode())
    return h.hexdigest()[:16]


def testdata_dir() -> str:
    """The fixture root: the parent of the sf0.1 dir ``bench.py`` times
    (TESTDATA.md lists the scales under it)."""
    import bench

    return os.path.dirname(os.path.abspath(bench.SF_DIR))


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def proc_status_mb(pid: int | str, field: str) -> float:
    """A memory field of ``/proc/<pid>/status`` (``VmRSS``, ``VmHWM``) in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(f"{field}:"):
                return int(line.split()[1]) * 1024 / MB
    return 0.0


def isolate_scratch() -> dict[str, str]:
    """Point every scratch location of Python, the JVM and Spark into
    the work dir, emptied first (reports are kept): one fixed state for
    every run."""
    dirs = {d: os.path.join(WORK, d) for d in ("tmp", "spark-local", "warehouse", "etl", "reports")}
    for name, d in dirs.items():
        if name != "reports":
            shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    # One core fewer than the host has: the driver's Python, the JIT
    # compilers and the GC threads run beside the task threads, and on
    # a fully subscribed host they preempt tasks at random.
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(max(1, nproc() - 1)))
    return dirs


def drop_engine_layouts(sf_dir: str) -> list[str]:
    """Remove the engine's write-once partitioned layouts for ``sf_dir``
    (named ``<layout>_<sf basename>_<sha1(abs dir)[:12]>`` by
    ``operators/scans.py``). The bucketed ones live in the warehouse,
    which ``isolate_scratch`` has already emptied."""
    tag = hashlib.sha1(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    suffix = f"_{os.path.basename(os.path.normpath(sf_dir))}_{tag}"
    base = os.path.join(ROOT, ".tmp_partitioned")
    dropped = []
    if os.path.isdir(base):
        for name in os.listdir(base):
            if name.endswith(suffix) or f"{suffix}_" in name:
                shutil.rmtree(os.path.join(base, name), ignore_errors=True)
                dropped.append(name)
    return dropped


class Bench:
    def __init__(self, args, dirs):
        self.args, self.dirs = args, dirs
        self.sf_name = "sf0.01" if args.smoke else "sf0.1"
        self.sf_dir = os.path.join(testdata_dir(), self.sf_name)
        with open(args.expected) as fh:
            expected = json.load(fh)
        self.answers = expected["answers"][self.sf_name]
        self.jobs_reference = expected["jobs_reference"]
        self.want_fingerprint = expected["fixtures"][self.sf_name]
        from workloads import workload_keys

        self.keys = workload_keys(args.workload)
        self.etl = None
        self.attempted = self.failed = 0
        self.failures: dict[str, str] = {}
        self.warm_walls: dict[str, float] = {}
        self.per_key_jobs: dict[str, list[int]] = {k: [] for k in self.keys}

    # -- one key -------------------------------------------------------

    def build(self, key):
        if self.etl is not None:
            return self.etl.source(key)
        return self.queries[key](self.spark, self.sf_dir)

    def materialize(self, key, df) -> None:
        if self.etl is not None:
            self.etl.write(key, df)
        else:
            df.write.format("noop").mode("overwrite").save()

    def check_answer(self, key, df) -> str | None:
        """None when ``df`` holds ``key``'s expected answer."""
        from comparator import value_hash

        want = self.answers.get(key)
        if want is None:
            return "no expected answer recorded"
        rows = [tuple(r) for r in df.collect()]
        cols = [f.name for f in df.schema.fields]
        if len(rows) != want["nrows"]:
            return f"rows {len(rows)} != {want['nrows']}"
        if sorted(cols) != sorted(want["cols"]):
            return f"cols {sorted(cols)} != {sorted(want['cols'])}"
        got = value_hash(rows, cols)
        return None if got == want["value_hash"] else f"value_hash {got} != {want['value_hash']}"

    def verify(self, key) -> str | None:
        """Run ``key`` once, untimed, and compare its answer."""
        df = self.build(key)
        if self.etl is None:
            return self.check_answer(key, df)
        from workloads import ETL_ANSWERS

        self.materialize(key, df)
        if key in ETL_ANSWERS:
            return self.check_answer(ETL_ANSWERS[key], self.etl.read_back(key))
        return self.etl.verify(key, df)

    # -- set-up ----------------------------------------------------------

    def setup(self) -> None:
        import bigdataprojectspring16_spark as engine
        from bigdataprojectspring16_spark import session

        # The warehouse holds the engine's bucketed layouts and the
        # etl_write tables; keep it in the work dir, not under /tmp.
        session._STARTUP_CONFS["spark.sql.warehouse.dir"] = self.dirs["warehouse"]
        t0 = time.perf_counter()
        self.spark = engine.get_session("perfbench")
        self.session_start_s = time.perf_counter() - t0
        self.queries = engine.QUERIES
        self.dag = self.spark.sparkContext._jsc.sc().dagScheduler()
        self.pids = ("self", self.spark.sparkContext._gateway.proc.pid)
        if self.args.workload == "etl_write":
            from workloads import EtlWrite

            self.etl = EtlWrite(self.spark, self.sf_dir, self.dirs["etl"], self.dirs["warehouse"])
            self.etl.reset()
        for key in self.keys:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                problem = self.verify(key)
            except Exception as exc:  # a key that raises is a failed answer
                problem = f"raised {type(exc).__name__}: {exc}"
                traceback.print_exc(file=sys.stderr)
            if problem is not None:
                self.failed += 1
                self.failures[key] = problem
                print(f"perfbench: {key} failed verification: {problem}", file=sys.stderr)
            self.warm_walls[key] = time.perf_counter() - t0

    def settle(self) -> None:
        """Untimed, before each pass: drop the last pass's plans on both
        sides of Py4J, so every pass starts from the same heap and the
        ContextCleaner frees their broadcast and checkpoint blocks (as
        ``bench.py`` does between keys). G1 hands the heap it shrank
        back to the OS a few hundred ms after the full GC, from a
        background thread; wait until the JVM's resident set stops
        falling, so every pass starts from the same footprint. Then
        restart the peak-RSS high-water marks of this process and the
        driver JVM (``clear_refs`` 5, Linux >= 4.0)."""
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        prev, t_end = -1.0, time.perf_counter() + SETTLE_MAX_S
        while time.perf_counter() < t_end:
            cur = proc_status_mb(self.pids[1], "VmRSS")
            if abs(cur - prev) < SETTLE_RSS_MB:
                break
            prev = cur
            time.sleep(0.1)
        for pid in self.pids:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")

    def peak_rss_mb(self) -> float:
        """Peak resident MB of this process plus the driver JVM since the
        last ``settle``; memory held since set-up is resident, so it
        counts."""
        return sum(proc_status_mb(pid, "VmHWM") for pid in self.pids)

    # -- timed passes ----------------------------------------------------

    def one_pass(self, order, tracer=None) -> tuple[float, dict[str, float]]:
        """Run ``order`` once; returns (pass wall, per-key walls)."""
        if self.etl is not None:
            self.etl.reset()
        walls: dict[str, float] = {}
        t_pass = time.perf_counter()
        for key in order:
            self.attempted += 1
            j0 = self.dag.numTotalJobs()
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    self.materialize(key, self.build(key))
                else:
                    self.traced_key(tracer, key)
            except Exception as exc:
                self.failed += 1
                self.failures.setdefault(key, f"raised {type(exc).__name__}: {exc}")
                traceback.print_exc(file=sys.stderr)
                continue
            walls[key] = time.perf_counter() - t0
            self.per_key_jobs[key].append(self.dag.numTotalJobs() - j0)
        return time.perf_counter() - t_pass, walls

    def traced_key(self, tracer, key) -> None:
        from tracing import catalyst_phases_ms, stage_metrics
        from workloads import data_bytes

        with tracer.span("key", key=key) as k:
            with tracer.span("registry"):
                df = self.build(key)
            with tracer.span("catalyst") as c:
                c.update(catalyst_phases_ms(df))
            with tracer.span("exec") as e:
                self.materialize(key, df)
            e.update(stage_metrics(self.spark, e["first_job"], e["end_job"]))
            if self.etl is not None:
                k["written_bytes"], k["written_files"] = data_bytes(self.etl.location(key))

    def verified_keys(self) -> list[str]:
        return [k for k in self.keys if k not in self.failures]

    def timed(self, rng) -> tuple[list[float], list[dict[str, float]], list[float]]:
        """``WARM_PASSES`` untimed passes, then passes until ``--seconds``
        have gone by: (pass walls, per-key walls of each pass, peak RSS
        MB of each pass)."""
        keys = self.verified_keys()
        for _ in range(WARM_PASSES):
            self.settle()
            self.one_pass(rng.sample(keys, len(keys)))
        passes, walls, rss = [], [], []
        t_end = time.perf_counter() + self.args.seconds
        while not passes or time.perf_counter() < t_end:
            self.settle()
            wall, key_walls = self.one_pass(rng.sample(keys, len(keys)))
            passes.append(wall)
            walls.append(key_walls)
            rss.append(self.peak_rss_mb())
        return passes, walls, rss


def layer_metrics(bench, tracer, traced_pass_s, untraced_pass_s) -> dict[str, float]:
    """Per-layer sums over the traced pass."""

    def total(spans, field):
        return sum(s.get(field, 0) for s in spans)

    tables = tracer.outermost("tables")
    barriers = tracer.outermost("plans.barriers")
    sinks = tracer.outermost("sources.sinks")
    build = [s for s in tracer.spans if s["layer"] == "registry"]
    cat = [s for s in tracer.spans if s["layer"] == "catalyst"]
    ex = [s for s in tracer.spans if s["layer"] == "exec"]
    keys = [s for s in tracer.spans if s["layer"] == "key"]
    cores = bench.spark.sparkContext.defaultParallelism
    exec_s = total(ex, "s")
    run_s = total(ex, "executor_run_ms") / 1000
    written = total(keys, "written_bytes")
    source_bytes = 0
    if bench.etl is not None:
        from workloads import ETL_SOURCES

        source_bytes = sum(
            os.path.getsize(os.path.join(bench.sf_dir, f"{t}.parquet")) for t in ETL_SOURCES
        )
    return {
        "session.start_s": bench.session_start_s,
        "tables.load_calls": len(tables),
        "tables.load_s": total(tables, "s"),
        "tables.load_jobs": total(tables, "jobs"),
        "registry.build_s": total(build, "s"),
        "registry.build_jobs": total(build, "jobs"),
        "plans.barriers.calls": len(barriers),
        "plans.barriers.s": total(barriers, "s"),
        "plans.barriers.jobs": total(barriers, "jobs"),
        "catalyst.analysis_ms": total(cat, "analysis"),
        "catalyst.optimization_ms": total(cat, "optimization"),
        "catalyst.planning_ms": total(cat, "planning"),
        "exec.s": exec_s,
        "exec.jobs": total(ex, "jobs"),
        "exec.stages": total(ex, "stages"),
        "exec.tasks": total(ex, "tasks"),
        "exec.failed_tasks": total(ex, "failed_tasks"),
        "exec.executor_run_s": run_s,
        "exec.gc_s": total(ex, "gc_ms") / 1000,
        "exec.shuffle_read_mb": total(ex, "shuffle_read_bytes") / MB,
        "exec.shuffle_write_mb": total(ex, "shuffle_write_bytes") / MB,
        "exec.spill_mb": total(ex, "spill_bytes") / MB,
        "exec.busy_frac": run_s / (exec_s * cores) if exec_s else 0.0,
        "sources.sinks.write_s": total(sinks, "s"),
        "sources.sinks.written_mb": written / MB,
        "sources.sinks.files": total(keys, "written_files"),
        "sources.sinks.written_bytes_per_input_byte": (
            written / source_bytes if source_bytes else 0.0
        ),
        "trace.overhead_frac": traced_pass_s / untraced_pass_s - 1,
    }


def per_key_layers(tracer) -> dict[str, dict]:
    """Each key's build/exec split and the jobs its loader and barrier
    calls started: the exact counts later claims are checked against."""
    loads = {s["id"] for s in tracer.outermost("tables")}
    barriers = {s["id"] for s in tracer.outermost("plans.barriers")}
    out = {}
    for k in (s for s in tracer.spans if s["layer"] == "key"):
        kids = {c["layer"]: c for c in tracer.children(k["id"])}
        inner = tracer.descendants(k["id"])
        out[k["key"]] = {
            "s": k["s"],
            "build_s": kids["registry"]["s"],
            "build_jobs": kids["registry"]["jobs"],
            # Python plan construction: the build minus its loads and barriers.
            "build_self_s": tracer.self_s(kids["registry"]),
            "exec_s": kids["exec"]["s"],
            "exec_jobs": kids["exec"]["jobs"],
            "tables_jobs": sum(s["jobs"] for s in inner if s["id"] in loads),
            "barrier_jobs": sum(s["jobs"] for s in inner if s["id"] in barriers),
        }
    return out


def stop_spark(spark) -> None:
    """Stop the session, then end the driver JVM and wait for it: its
    gateway server exits when its stdin closes."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def registered_units() -> dict[str, str]:
    """Metric name -> unit, from the registry at the checkout root."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def measure(bench, rng) -> tuple[dict[str, float], dict]:
    """Set up, time and (with ``--trace 1``) trace one workload:
    (metrics for the result line, report)."""
    bench.setup()
    setup_s = time.perf_counter() - _PROCESS_START
    report = {
        "setup_s": setup_s,
        "session_start_s": bench.session_start_s,
        "warm_key_walls_s": bench.warm_walls,
    }
    if not bench.verified_keys():
        print("perfbench: no key passed verification; nothing to time", file=sys.stderr)
        return {}, report
    passes, walls, rss = bench.timed(rng)
    report.update(
        passes_s=passes,
        pass_peak_rss_mb=rss,
        key_walls_s=walls,
    )
    metrics = {
        "setup_s": setup_s,
        "pass_s": statistics.median(passes),
        "query_p50_s": statistics.median(t for w in walls for t in w.values()),
        "peak_rss_mb": statistics.median(rss),
    }
    if not bench.args.trace:
        return metrics, report
    from tracing import Tracer

    tracer = Tracer(bench.spark)
    keys = bench.verified_keys()
    bench.settle()
    with tracer.instrumented():
        traced_s, _ = bench.one_pass(rng.sample(keys, len(keys)), tracer)
    report.update(
        traced_pass_s=traced_s,
        per_key_layers=per_key_layers(tracer),
        spans=tracer.spans,
    )
    # Against the last untraced pass: the JIT is still warming through
    # the first passes, so earlier ones read slower.
    return layer_metrics(bench, tracer, traced_s, passes[-1]), report


def main(argv=None) -> int:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true")
    p.add_argument("--expected", default=os.path.join(HERE, "expected.json"))
    args = p.parse_args(argv)

    # The engine, bench.py and the driver-grade comparator come from the
    # checkout; they are imported after the scratch dirs are set.
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    needed = ("bigdataprojectspring16_spark", "bench", "comparator")
    missing = [m for m in needed if find_spec(m) is None]
    if missing:
        print(f"perfbench: {missing} not found next to the benchmark", file=sys.stderr)
        return 3

    dirs = isolate_scratch()
    bench = Bench(args, dirs)
    got = fixture_fingerprint(bench.sf_dir)
    if got != bench.want_fingerprint:
        print(
            f"perfbench: fixtures under {bench.sf_dir} have fingerprint {got}, "
            f"expected answers were recorded for {bench.want_fingerprint}",
            file=sys.stderr,
        )
        return 2
    dropped = drop_engine_layouts(bench.sf_dir)
    host = {
        "nproc": nproc(),
        "requested_cpus": os.environ["SPARK_GRAFT_CPUS"],
        "loadavg_start": os.getloadavg(),
    }
    ticks_start = cpu_ticks()
    rng = random.Random(args.seed)
    try:
        metrics, report = measure(bench, rng)
        host["default_parallelism"] = bench.spark.sparkContext.defaultParallelism
    finally:
        host["loadavg_end"] = os.getloadavg()
        steal, total = (b - a for a, b in zip(ticks_start, cpu_ticks()))
        # CPU time the hypervisor gave to other guests: a contended
        # run shows itself here.
        host["steal_frac"] = steal / total if total else 0.0
        if hasattr(bench, "spark"):
            stop_spark(bench.spark)

    jobs = {k: v[-1] for k, v in bench.per_key_jobs.items() if v}
    report.update(
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        trace=args.trace,
        sf_dir=bench.sf_dir,
        fixture_fingerprint=got,
        setup_state="engine layouts absent at start; built by the warm pass",
        layouts_dropped=dropped,
        host=host,
        failed_frac=bench.failed / bench.attempted,
        failures=bench.failures,
        jobs=jobs,
        jobs_unstable={k: v for k, v in bench.per_key_jobs.items() if len(set(v)) > 1},
        jobs_vs_reference={
            k: [n, bench.jobs_reference[k]]
            for k, n in jobs.items()
            if k in bench.jobs_reference and n != bench.jobs_reference[k]
        },
    )
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(dirs["reports"], name), "w") as fh:
        json.dump(report, fh, indent=1)
    report.pop("spans", None)
    print(json.dumps({"report": report}))
    units = registered_units()
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {
            k: {"value": v, "unit": units[k]} for k, v in metrics.items()
        },
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
