"""Process settings, Spark session, counters and statistics shared by
every workload of the benchmark.

Everything the benchmark writes lives under `<checkout>/.bench_work/`
(removed when a run ends) and `<checkout>/.bench_out/` (span dumps of
traced runs).
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RECIPE_PATH = os.path.join(ROOT, "recipes", "clean.wgl")

now = time.perf_counter


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def heap_size() -> str:
    """Spark JVM heap well below physical RAM: a quarter of it, capped at
    4 GiB (local mode runs every executor thread inside this heap)."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError, AttributeError):
        phys = 8 << 30
    return f"{max(1, min(4, (phys >> 30) // 4))}g"


class Env:
    """One run's scratch space and process settings. The Spark Python
    workers inherit the environment set here, so `wrangler_spark` must
    be importable from it: commits touching 256+ files collect footer
    stats in a Python RDD job."""

    def __init__(self, workload: str, seed: int):
        self.work = os.path.join(ROOT, ".bench_work", f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        self.tmp = os.path.join(self.work, "tmp")
        self.local = os.path.join(self.work, "spark-local")
        for d in (self.tmp, self.local):
            os.makedirs(d)
        self.cores = cpu_count()
        pp = os.environ.get("PYTHONPATH")
        os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
        os.environ["SPARK_DRIVER_MEM"] = heap_size()
        os.environ["SPARK_LOCAL_DIRS"] = self.local
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        os.environ["TMPDIR"] = self.tmp
        os.environ.pop("SPARK_MASTER", None)
        self.spark = None
        self._proc = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_spark(self):
        from wrangler_spark import session

        # no hsperfdata files outside the run's own directories
        java_opts = f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData"
        self.spark = session.get_spark(
            parallelism=self.cores,
            app_name="perfbench",
            extra_conf={
                "spark.driver.extraJavaOptions": java_opts,
                "spark.executor.extraJavaOptions": java_opts,
                "spark.local.dir": self.local,
                "spark.sql.warehouse.dir": self.path("warehouse"),
                "spark.ui.showConsoleProgress": "false",
                # job/stage counters are read from the status tracker
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        gw = self.spark.sparkContext._gateway
        self._proc = getattr(gw, "proc", None)
        return self.spark

    def cpu_s(self) -> float:
        """CPU seconds used so far by the Spark JVM (every thread: Spark
        tasks, planning, JIT, GC) and by this Python process. Unlike wall
        time it does not grow when other tenants of the machine hold the
        CPUs. The JVM's figure comes from the kernel's process table."""
        with open(f"/proc/{self._proc.pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        ticks = os.sysconf("SC_CLK_TCK")
        t = os.times()
        return (int(fields[11]) + int(fields[12])) / ticks + t.user + t.system

    def close(self) -> None:
        """Stop Spark, wait for the JVM to exit, remove the scratch dir."""
        if self.spark is not None:
            from pyspark import SparkContext

            try:
                self.spark.stop()
            finally:
                gw = SparkContext._gateway
                if gw is not None:
                    gw.shutdown()
                    SparkContext._gateway = None
                    SparkContext._jvm = None
                if self._proc is not None:
                    try:
                        self._proc.stdin.close()
                    except (OSError, AttributeError):
                        pass
                    try:
                        self._proc.wait(timeout=60)
                    except Exception:  # noqa: BLE001 — last resort
                        self._proc.kill()
                        self._proc.wait()
        shutil.rmtree(self.work, ignore_errors=True)
        parent = os.path.dirname(self.work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


# ------------------------------------------------------------------ counters
class JobCounter:
    """Spark jobs, tasks and failed tasks between two points, read from
    the status tracker. Diffing job ids (not a job group) also counts
    jobs submitted from other threads, such as the replayer's
    background watermark job."""

    def __init__(self, spark):
        self.st = spark.sparkContext.statusTracker()
        self.seen_jobs = set(self.st.getJobIdsForGroup(None))
        self.seen_stages: set[int] = set()

    def take(self) -> dict:
        jobs = set(self.st.getJobIdsForGroup(None)) - self.seen_jobs
        self.seen_jobs |= jobs
        tasks = failed = 0
        for j in jobs:
            info = self.st.getJobInfo(j)
            for sid in info.stageIds if info else ():
                if sid in self.seen_stages:
                    continue
                self.seen_stages.add(sid)
                si = self.st.getStageInfo(sid)
                if si is not None:
                    tasks += si.numCompletedTasks
                    failed += si.numFailedTasks
        return {"jobs": len(jobs), "tasks": tasks, "failed_tasks": failed}


def listing(root: str) -> dict[str, int]:
    """relpath -> size of every file under root."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for fn in files:
            full = os.path.join(d, fn)
            try:
                out[os.path.relpath(full, root)] = os.path.getsize(full)
            except OSError:
                pass
    return out


def written(before: dict[str, int], after: dict[str, int], prefix: str = "") -> tuple[int, int]:
    """(files, bytes) new or resized between two listings, optionally
    restricted to relpaths under `prefix`."""
    n = b = 0
    for rel, size in after.items():
        if prefix and not rel.startswith(prefix):
            continue
        if before.get(rel) != size:
            n += 1
            b += size
    return n, b


def dir_bytes(root: str) -> int:
    return sum(listing(root).values())


def table_layout(table) -> dict:
    """Live files, the worst bucket's file count and pending delta bytes
    of a LakeTable snapshot."""
    per: dict[str, int] = {}
    for b, rels in table.snap["files"].items():
        per[b] = per.get(b, 0) + len(rels)
    for b, rels in table.snap.get("deltas", {}).items():
        per[b] = per.get(b, 0) + len(rels)
    return {
        "files_live": sum(per.values()),
        "files_per_bucket_max": max(per.values(), default=0),
        "delta_bytes_pending": table.delta_bytes(),
    }


# ------------------------------------------------------------------ stats
def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q: float):
    """Nearest-rank percentile and the number of samples above it."""
    if not xs:
        return 0.0, 0
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(round(q / 100.0 * len(s) + 0.5)) - 1))
    return s[k], len(s) - 1 - k


class Outcome:
    """Operation and check bookkeeping for one run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def op(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if what and len(self.problems) < 20:
                self.problems.append(what)


class Workload:
    """One workload: `generate` writes the inputs, `build` makes the
    seeded state in a fresh directory, `warm` runs requests before
    timing starts, `measure` runs the closed loop, `verify` checks the
    final state."""

    OP = "op"
    # True when the measured requests are the session's first (no warm-up)
    COLD = False

    def __init__(self, env: Env, spark, seed: int, seconds: float):
        self.env, self.spark, self.seed, self.seconds = env, spark, seed, seconds
        self.outcome = Outcome()
        self.gen_s: list[float] = []
        self.passes = 0

    def setup(self, reps: int) -> float:
        """Generate the inputs once, build `reps` times (keeping the
        last), warm up once; returns the input generation time plus the
        median build time plus the warm-up time."""
        t = now()
        self.generate(self.env.path("inputs"))
        gen_s = now() - t
        secs = []
        for _ in range(reps):
            d = self._fresh_dir()
            t = now()
            self.build(d)
            secs.append(now() - t)
        self.expect()
        t = now()
        self.warm()
        warm_s = now() - t
        self.setup_parts = {"generate": gen_s, "builds": secs, "warm": warm_s}
        return gen_s + median(secs) + warm_s

    def _fresh_dir(self) -> str:
        shutil.rmtree(self.env.path(f"pass{self.passes}"), ignore_errors=True)
        self.passes += 1
        return self.env.path(f"pass{self.passes}")

    def generate(self, d: str) -> None:
        """Write the seeded inputs that every build reads."""

    def build(self, d: str) -> None:
        raise NotImplementedError

    def expect(self) -> None:
        """Derive the checker's expected state from the last build
        (untimed: it is the benchmark's work, not the program's)."""

    def warm(self) -> None:
        raise NotImplementedError

    def verify(self) -> None:
        """Checks that need the whole run; per-request checks happen as
        requests complete."""
