"""The repository's benchmark command.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. One run is one fresh process with one
driver thread that submits the workload's keys one after another (a
closed loop with one client), as the daily job does. The inputs are the
fixture tables under ``perfbench/fixtures``; the seed only permutes the
key order of every pass.

The run goes: set-up (registry, session, tables primed), a cold first
pass over the keys, warm passes until ``--seconds`` have elapsed, then
one oracle check of every key. With ``--trace 1`` every second warm pass
is traced: spans around each call into the engine, py4j round trips
during the builder, and job, stage, SQL and storage figures from Spark's
status stores. It prints one line per metric, then one JSON result line.
Everything it writes stays inside the checkout: ``perfbench/.work`` and
the engine's own ``.scratch``.
"""

from __future__ import annotations

import time

#: setup_s counts from here, before any import of the engine or of Spark.
STARTED = time.monotonic()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
#: Read-only copy of the sf0.01 fixture tables the engine's tests use.
DATA = os.path.join(HERE, "fixtures", "sf0.01")
sys.path[:0] = [HERE, ROOT]

import stats  # noqa: E402
from tracing import (  # noqa: E402
    Py4jCounter, SqlStore, StatusStore, Tracer, catalyst_figures,
)
from workloads import WORKLOADS  # noqa: E402

#: Files of the program the benchmark drives; without them it refuses to run.
PROGRAM = ("noaa_etl_daily_spark/registry.py", "tests/conftest.py")
#: Driver JVM heap, well below the memory of the box the benchmark targets.
#: The heap is committed at this size from the start (-Xms), so garbage
#: collection does not depend on how far the heap happened to grow.
DRIVER_MEMORY = "2g"
#: Every run must end within 180 s: past this many seconds the run is
#: abandoned, which leaves time to stop the driver JVM.
DEADLINE_S = 140

#: Per-rep figures of a traced key-rep that are summed over keys as they
#: are (after taking each key's median over its traced reps).
SUMMED = (
    "operators.build_s", "operators.build_jobs", "operators.py4j_calls",
    "materialize.pinned_rdds", "materialize.pinned_bytes",
    "catalyst.plan_s", "catalyst.analysis_ms", "catalyst.optimization_ms",
    "catalyst.planning_ms", "catalyst.exchanges",
    "exec.wall_s", "exec.jobs", "exec.stages", "exec.tasks", "exec.run_s",
    "exec.cpu_s", "exec.gc_s", "exec.shuffle_read_bytes",
    "exec.shuffle_write_bytes", "exec.spill_bytes", "exec.input_bytes",
    "sink.output_bytes", "sink.output_rows", "sink.source_bytes",
)


class Deadline(BaseException):
    """Raised by SIGALRM. A BaseException, so the per-key ``except
    Exception`` handlers do not swallow it."""


@contextlib.contextmanager
def deadline(seconds: int):
    def expire(signum, frame):
        raise Deadline(f"no result after {seconds} s")

    previous = signal.signal(signal.SIGALRM, expire)
    signal.alarm(seconds)
    try:
        yield
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, previous)


def pin_environment(tmp: str) -> None:
    """The deployment every run uses. Set before Spark is imported, since
    the driver JVM reads it when the session starts."""
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        TMPDIR=tmp,
        # -XX:-UsePerfData: no JVM writes its hsperfdata file under /tmp
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS=(
            "--conf spark.ui.showConsoleProgress=false --driver-java-options "
            f"'-Xms{DRIVER_MEMORY} -XX:-UsePerfData -Djava.io.tmpdir={tmp}' "
            "pyspark-shell"
        ),
    )


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``, from the parent ids in /proc."""
    parent = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    # the command name may hold spaces: split after it
                    parent[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    out, frontier = [], [pid]
    while frontier:
        kids = [p for p, pp in parent.items() if pp in frontier]
        out += kids
        frontier = kids
    return out


def wait_gone(pids: list[int], seconds: float) -> list[int]:
    """Wait up to ``seconds`` for ``pids`` to end; return those left."""
    end = time.monotonic() + seconds
    while True:
        left = [p for p in pids if os.path.exists(f"/proc/{p}")]
        if not left or time.monotonic() > end:
            return left
        time.sleep(0.05)


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs
    since boot (from /proc/stat; 0 where the kernel does not report it)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set size of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Run:
    def __init__(self, args):
        self.args = args
        self.keys = WORKLOADS[args.workload]
        self.order_rng = random.Random(args.seed)
        self.tracer = Tracer()
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.input_bytes = {
            f[: -len(".parquet")]: os.path.getsize(os.path.join(DATA, f))
            for f in sorted(os.listdir(DATA))
        }

    def _fail(self, what: str) -> None:
        self.failed += 1
        msg = f"{what}: {traceback.format_exc(limit=3)}"
        self.errors.append(msg)
        print(msg, file=sys.stderr, flush=True)

    def _span(self, name: str, rep: str):
        if self.args.trace:
            return self.tracer.span(name, rep)
        return contextlib.nullcontext()

    def setup(self) -> None:
        with self._span("registry.load", "setup"):
            from noaa_etl_daily_spark.registry import load_all

            self.registry = load_all()
        with self._span("session.start", "setup"):
            from noaa_etl_daily_spark.session import get_spark

            self.spark = get_spark(app_name=f"perfbench-{self.args.workload}")
            self.spark.sparkContext.setLogLevel("ERROR")
        with self._span("tables.prime", "setup"):
            from noaa_etl_daily_spark.tables import TABLE_NAMES, load

            self.input_rows = {name: load(self.spark, DATA, name).count() for name in TABLE_NAMES}
        self.setup_s = time.monotonic() - STARTED

    def _order(self) -> list[str]:
        keys = list(self.keys)
        self.order_rng.shuffle(keys)
        return keys

    def run_key(self, key: str) -> float | None:
        """Build and execute one key to the noop sink; seconds or None."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            df = self.registry[key].builder(self.spark, DATA)
            df.write.format("noop").mode("overwrite").save()
        except Exception:
            self._fail(f"{key} failed")
            return None
        return time.perf_counter() - t0

    def run_key_traced(self, key: str, rep: str) -> dict | None:
        """run_key with spans, py4j counts and status-store figures."""
        self.attempted += 1
        sc, store, span = self.spark.sparkContext, self.store, self.tracer.span
        try:
            last_sql = self.sql.last_execution_id()
            with span("key", rep) as key_span:
                pinned_before = store.persistent_rdds()
                sc.setJobGroup(f"{rep}/build", key)
                calls = self.py4j.calls
                with span("operators.build", rep) as build_span:
                    df = self.registry[key].builder(self.spark, DATA)
                calls = self.py4j.calls - calls
                pinned = store.persistent_rdds() - pinned_before
                pinned_bytes = store.rdd_bytes(pinned)
                # plan-time jobs, if any, stay out of both groups read below
                sc.setJobGroup(f"{rep}/plan", key)
                with span("catalyst.plan", rep) as plan_span:
                    catalyst = catalyst_figures(df)
                sc.setJobGroup(f"{rep}/exec", key)
                with span("exec.noop", rep) as exec_span:
                    df.write.format("noop").mode("overwrite").save()
                sc.setLocalProperty("spark.jobGroup.id", None)
            store.drain()
            build_jobs = store.job_ids(f"{rep}/build")
            exec_jobs = store.job_ids(f"{rep}/exec")
            built = store.stage_totals(build_jobs)
            ran = store.stage_totals(exec_jobs)
            sources = self.sql.written_sources(last_sql, DATA)
        except Exception:
            self._fail(f"{key} failed (traced)")
            return None
        own = stats.self_times([key_span, build_span, plan_span, exec_span])
        rec = {
            "key_s": key_span["end"] - key_span["start"],
            "operators.build_s": own[build_span["id"]],
            "operators.build_jobs": len(build_jobs),
            "operators.py4j_calls": calls,
            "materialize.pinned_rdds": len(pinned),
            "materialize.pinned_bytes": pinned_bytes,
            "catalyst.plan_s": own[plan_span["id"]],
            "exec.wall_s": own[exec_span["id"]],
            "exec.jobs": len(exec_jobs),
            "sink.output_bytes": built["output_bytes"],
            "sink.output_rows": built["output_rows"],
            "sink.source_bytes": sum(self.input_bytes[t] for t in sources),
        }
        rec.update({f"catalyst.{k}": v for k, v in catalyst.items()})
        rec.update({
            f"exec.{k}": ran[k]
            for k in ("stages", "tasks", "run_s", "cpu_s", "gc_s", "input_bytes",
                      "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")
        })
        return rec

    def passes(self) -> None:
        """Cold first pass, then warm passes for ``--seconds`` seconds.
        A traced run alternates traced and untraced warm passes, starting
        and ending with a traced one (at least three passes), so the warm-up
        drift between passes cancels out of the tracing overhead."""
        t0 = time.perf_counter()
        for key in self._order():
            self.run_key(key)
        self.first_batch_s = time.perf_counter() - t0

        if self.args.trace:
            self.py4j = Py4jCounter()
            self.py4j.install()
            self.store = StatusStore(self.spark)
            self.sql = SqlStore(self.spark)
        self.warm = {k: [] for k in self.keys}
        self.traced = {k: [] for k in self.keys}
        start, n = time.monotonic(), 0
        while (
            time.monotonic() - start < self.args.seconds
            or n < (3 if self.args.trace else 1)
            or (self.args.trace and n % 2 == 0)
        ):
            traced = self.args.trace and n % 2 == 0
            for key in self._order():
                if traced:
                    rec = self.run_key_traced(key, f"{key}#{n}")
                    if rec is not None:
                        self.traced[key].append(rec)
                else:
                    secs = self.run_key(key)
                    if secs is not None:
                        self.warm[key].append(secs)
            n += 1
        self.warm_passes = n
        if self.args.trace:
            self.py4j.uninstall()

    def peak_rss_mb(self) -> float:
        jvm = self.spark.sparkContext._gateway.proc.pid
        return vm_hwm_mb("self") + vm_hwm_mb(jvm)

    def check(self) -> None:
        """Check every key once against its DuckDB oracle (rows-only keys
        must return rows); a mismatch or an exception is a failed op."""
        import duckdb

        from noaa_etl_daily_spark.tables import TABLE_NAMES
        from tests.conftest import assert_same_results

        con = duckdb.connect()
        con.execute(f"SET temp_directory='{WORK}/duckdb'")
        for name in TABLE_NAMES:
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM "
                f"read_parquet('{DATA}/{name}.parquet')"
            )
        for key in self.keys:
            self.attempted += 1
            query = self.registry[key]
            try:
                df = query.builder(self.spark, DATA)
                if query.oracle:
                    assert_same_results(df, con, query.oracle)
                elif df.count() == 0:
                    raise AssertionError(f"{key} returned no rows")
            except Exception:
                self._fail(f"{key} check failed")
        con.close()

    def deployment(self) -> dict:
        spark, sc = self.spark, self.spark.sparkContext
        conf = sc.getConf()
        return {
            "master": sc.master,
            "cores": sc.defaultParallelism,
            "driver_memory": conf.get("spark.driver.memory", ""),
            "console_progress": conf.get("spark.ui.showConsoleProgress", ""),
            "spark": spark.version,
            "python": platform.python_version(),
            "java": sc._jvm.System.getProperty("java.version"),
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "aqe": spark.conf.get("spark.sql.adaptive.enabled"),
            "input": os.path.relpath(DATA, ROOT),
            "input_rows": self.input_rows,
            "input_bytes": self.input_bytes,
            "total_input_bytes": sum(self.input_bytes.values()),
        }

    def metrics(self) -> dict:
        """End-to-end metrics, or with --trace 1 the per-layer ones;
        each entry carries its unit and the sample count behind it."""
        untraced = stats.per_key_medians(self.warm)
        n_warm = min((len(v) for v in self.warm.values()), default=0)
        if not self.args.trace:
            return {
                "setup_s": (self.setup_s, "s", 1),
                "first_batch_s": (self.first_batch_s, "s", 1),
                "batch_s": (stats.batch_total(self.warm), "s", n_warm),
                "query_geomean_s": (stats.geomean(untraced.values()), "s", n_warm),
                "peak_rss_mb": (self.rss_mb, "MB", 1),
            }
        med = {
            key: {f: statistics.median(r[f] for r in recs) for f in ("key_s",) + SUMMED}
            for key, recs in self.traced.items() if recs
        }
        tot = {f: sum(m[f] for m in med.values()) for f in ("key_s",) + SUMMED}
        n_traced = min((len(v) for v in self.traced.values()), default=0)
        setup = stats.self_time_by_name(
            [s for s in self.tracer.spans if s["rep"] == "setup"]
        )
        units = {"_s": "s", "_ms": "ms", "_bytes": "B"}
        out = {
            "session.start_s": (setup["session.start"], "s", 1),
            "registry.load_s": (setup["registry.load"], "s", 1),
            "tables.prime_s": (setup["tables.prime"], "s", 1),
        }
        for f in SUMMED:
            if f == "sink.source_bytes":
                continue
            unit = next((u for suf, u in units.items() if f.endswith(suf)), "count")
            out[f] = (tot[f], unit, n_traced)
        cores = int(self.deploy["cores"])
        out["exec.slot_busy_ratio"] = (
            stats.slot_busy_ratio(tot["exec.run_s"], tot["exec.wall_s"], cores), "1", n_traced
        )
        out["sink.write_amp"] = (
            stats.ratio(tot["sink.output_bytes"], tot["sink.source_bytes"]), "1", n_traced
        )
        out["trace.overhead_s"] = (tot["key_s"] - sum(untraced.values()), "s", n_traced)
        return out

    def record(self, phases: dict) -> dict:
        args = self.args
        rec = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "deployment": self.deploy,
            "warm_passes": self.warm_passes,
            "phases": phases,
            "attempted": self.attempted,
            "failed": self.failed,
            "errors": self.errors,
            "metrics": {
                name: {"value": v, "unit": u, "n": n}
                for name, (v, u, n) in self.metrics().items()
            },
            "per_key_warm_s": self.warm,
        }
        if args.trace:
            rec["per_key_traced"] = self.traced
        return rec


def stop_spark() -> None:
    """Stop the session and the driver JVM, and wait until the JVM and
    every process it started have ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    jvm = gateway.proc
    started = descendants(os.getpid())
    with contextlib.suppress(Exception, Deadline), deadline(20):
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    with contextlib.suppress(Exception):
        gateway.shutdown()
    jvm.stdin.close()  # the gateway server exits when its stdin closes
    try:
        jvm.wait(timeout=20)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait()
    for pid in wait_gone(started, 10):
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGKILL)
    wait_gone(started, 10)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in PROGRAM if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files missing: {missing}", file=sys.stderr)
        return 2

    # same on-disk state for every run: no sink output or Spark scratch
    # left behind by an earlier run or test
    tmp, runs = os.path.join(WORK, "tmp"), os.path.join(WORK, "runs")
    for d in (os.path.join(ROOT, ".scratch"), os.path.join(WORK, "spark-local"), tmp):
        shutil.rmtree(d, ignore_errors=True)
    for d in (tmp, runs):
        os.makedirs(d, exist_ok=True)
    pin_environment(tmp)

    run = Run(args)
    steal = cpu_steal_s()
    try:
        with deadline(int(DEADLINE_S - (time.monotonic() - STARTED))):
            run.setup()
            run.deploy = run.deployment()
            t0 = time.monotonic()
            run.passes()
            run.rss_mb = run.peak_rss_mb()
            t1 = time.monotonic()
            run.check()
            record = run.record({
                "setup_s": run.setup_s,
                "passes_s": t1 - t0,
                "check_s": time.monotonic() - t1,
                # a noisy neighbour shows here: read it beside a slow run
                "cpu_steal_s": cpu_steal_s() - steal,
            })
    except (Exception, Deadline):
        traceback.print_exc()
        print("perfbench: run failed, no result", file=sys.stderr)
        return 1
    finally:
        stop_spark()

    name = os.path.join(runs, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(f"{name}.json", "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        run.tracer.write(f"{name}.spans.jsonl")

    for metric, m in record["metrics"].items():
        print(f"{args.workload} {metric} = {m['value']:.6g} {m['unit']} (n={m['n']})")
    attempted, failed = record["attempted"], record["failed"]
    print(f"{args.workload} error_rate = {failed / attempted:.6g} 1 "
          f"(failed {failed} of {attempted} ops)")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            metric: {"value": m["value"], "unit": m["unit"]}
            for metric, m in record["metrics"].items()
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
