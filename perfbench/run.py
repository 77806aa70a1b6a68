"""crawlspark benchmark: one command, two workloads, every output checked.

    python3 perfbench/run.py --workload crawl_backlog --seed 7 --seconds 12 --trace 0

Run from the repository root. The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end metrics of ``BENCHMARK.json`` and with
``--trace 1`` its per-layer metrics. Each workload is a closed loop with one
client: one driver process on ``local[<cores>]`` (cores = the CPUs this
process may run on), where the next unit starts only after the previous
one has committed and been checked.

Protocol of one run:

1. The md5 CPU marker (``SpeedProbe``) starts, then Spark.
2. Inputs are generated from ``--seed`` ``SETUP_REPS`` times; the median
   repetition counts towards ``setup_s``.
3. Warm-up units (per workload, see ``warmup_units``), checked like the
   others. ``setup_s`` is the time from process start to the first timed
   unit, so work moved into set-up shows there.
4. Whole timed units until at least ``--seconds`` have passed (at least
   one unit). ``wall_s_p50`` is their median wall time and
   ``items_per_s`` the items of all timed units over their summed wall
   time. A unit that raises or fails its check counts as failed.

Why runs look this way: every run pays a JVM start and a cold first unit
(JIT and codegen, ~1.6x a warm crawl round, ~2.5x a warm corpus pass), and
the whole schedule of runs has a fixed time budget. A corpus run warms up
with two passes and times the next two; a crawl run times its first unit,
backlog injection plus one round (see ``crawl.py``), so most of the run is
measured. On a shared 4-core VM unit times follow the host's per-core
speed, which the md5 marker records for every run.

A traced run first runs one untraced unit, so that the traced units are
warm and the engine's own Spark job count per unit is known; the timed units
then run with spans around every layer call
(``spans.py``), the Python UDF profiler on and the Spark event log written;
per-layer values are the median over traced units. Work files live under
``.perfbench_work/`` in the repository and are removed at exit, except
``samples.jsonl``, which gets one line per run with the raw unit times,
CPU markers and steal time.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
SETUP_REPS = 3
DEADLINE_S = 165.0  # start no unit that would end a run past this
DRIVER_MEM = "2g"


class SpeedProbe:
    """md5 CPU marker: per-core speed during the run, sampled every
    ``period`` seconds by a background thread that times a fixed md5 batch
    in its own CPU time (``time.thread_time``). Run-queue waits caused by
    the benchmark's own load do not count; a slower core (frequency, a busy
    SMT sibling on the host) does. About 1% of one core. On a shared VM this
    marker swings by 2x within a minute, and unit times follow it partly,
    so it is recorded with every run to attribute drift to the machine."""

    def __init__(self, period: float = 0.1, batch: int = 1000):
        import threading

        self.period = period
        self.batch = batch
        self.samples: list[tuple[float, float]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            c0 = time.thread_time()
            for n in range(self.batch):
                hashlib.md5(str(n).encode()).digest()
            dt = time.thread_time() - c0
            if dt > 0:
                self.samples.append((time.perf_counter(), self.batch / dt))

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def rate(self, t0: float, t1: float) -> float:
        rates = [r for t, r in self.samples if t0 <= t <= t1]
        return statistics.median(rates) if rates else float("nan")


def steal_seconds() -> float:
    """Machine-wide stolen CPU time so far (all CPUs), from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
    except OSError:
        return 0.0
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def descendants(pid: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out: set[int] = set()
    todo = [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_spark(spark) -> None:
    """Stop Spark, the JVM it runs in and the Python workers the JVM
    started, and wait until each has ended."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and any(alive(p) for p in procs):
        time.sleep(0.1)
    for p in procs:
        if alive(p):
            os.kill(p, signal.SIGKILL)


def make_work_dir(work: Path) -> None:
    """Create an empty work dir and point every temp and Spark local dir,
    and the Python workers' import path, at the repository."""
    sys.path.insert(0, str(ROOT))
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ.update(
        {
            "PYTHONPATH": os.pathsep.join(
                [str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p]
            ),
            "PYSPARK_PYTHON": sys.executable,
            "SPARK_LOCAL_DIRS": str(work / "tmp"),
            "TMPDIR": str(work / "tmp"),
            "CRAWLSPARK_DRIVER_MEM": DRIVER_MEM,
        }
    )


def start_spark(work: Path, cores: int, trace: bool):
    from crawlspark.session import get_spark

    tmp = work / "tmp"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(tmp),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if trace:
        (work / "events").mkdir()
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{work / 'events'}",
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark("perfbench", cores=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def load_spec() -> dict:
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


class Run:
    """Units attempted, failed and timed in one run of one workload."""

    def __init__(self, spark, workload, trace: bool, work: Path):
        from spans import Tracer, udf_profile

        self.spark = spark
        self.sc = spark.sparkContext
        self.wl = workload
        self.trace = trace
        self.tracer = Tracer(spark) if trace else None
        self.read_udf = lambda fns: udf_profile(spark, str(work / "profile"), fns)
        self.attempted = self.failed = self.items = 0
        self.walls: list[float] = []
        self.unit_jobs: list[int] = []
        self.layer_units: list[dict] = []
        self.windows: list[tuple[float, float]] = []
        self.longest = 0.0  # longest unit so far, check included

    def unit(self, traced: bool = False):
        """Run and check one unit; returns (wall, items), or None when it
        raised or failed its check. The unit's Spark jobs run in job group
        ``u<n>:unit`` (spans of a traced unit set their own groups)."""
        from spans import set_group

        n = self.attempted
        group = f"u{n}:unit"
        self.attempted += 1
        t0 = time.perf_counter()
        set_group(self.sc, group)
        try:
            if traced:
                self.tracer.start_unit(n)
                self.spark.profile.clear(type="perf")
                wall, items, ok, layers = self.wl.run_traced_unit(self.tracer, self.read_udf)
            else:
                wall, items, ok = self.wl.run_unit()
        except Exception as exc:  # a unit that raises counts as failed
            print(f"perfbench: unit {n} raised {exc!r}", file=sys.stderr)
            ok = False
        finally:
            set_group(self.sc, None)
            self.longest = max(self.longest, time.perf_counter() - t0)
        jobs = len(self.sc.statusTracker().getJobIdsForGroup(group))
        self.unit_jobs.append(jobs)
        if not ok:
            self.failed += 1
            return None
        if traced:
            from spans import TRACE_GROUP

            span_jobs = self.tracer.jobs_by_group()
            layers.update(
                {
                    "trace.unit_wall_s": wall,
                    "trace.overhead_s": self.tracer.span_seconds().get(TRACE_GROUP, 0.0),
                    "trace.spark_jobs": jobs
                    + sum(v for k, v in span_jobs.items() if k != TRACE_GROUP),
                    "_unit": n,
                }
            )
            self.layer_units.append(layers)
        return wall, items

    def timed(self, seconds: float) -> None:
        """Timed units until ``seconds`` have passed and one passed its
        check; no unit starts that would likely end past the deadline."""
        t0 = time.perf_counter()
        if self.trace:
            self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        while not self.walls or time.perf_counter() - t0 < seconds:
            if time.perf_counter() - T_START + self.longest >= DEADLINE_S:
                break
            u0 = time.perf_counter()
            out = self.unit(traced=self.trace)
            self.windows.append((u0, time.perf_counter()))
            if out is not None:
                self.walls.append(out[0])
                self.items += out[1]


def measure(args, spec: dict, work: Path) -> tuple[Run, dict, dict]:
    from corpus import CorpusWorkload
    from crawl import CrawlWorkload
    from spans import event_log_totals

    cores = len(os.sched_getaffinity(0))
    sample: dict = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cores": cores,
    }
    workload_cls = {w.name: w for w in (CrawlWorkload, CorpusWorkload)}[args.workload]
    with SpeedProbe() as probe:
        spark = start_spark(work, cores, bool(args.trace))
        try:
            sample["jvm_ready_s"] = time.perf_counter() - T_START
            wl = workload_cls(spark, str(work), args.seed)
            reps = []
            for _ in range(SETUP_REPS):
                t0 = time.perf_counter()
                wl.prepare_inputs()
                reps.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            wl.build_state()
            sample["state_s"] = time.perf_counter() - t0
            run = Run(spark, wl, bool(args.trace), work)
            n_warm = max(wl.warmup_units, 1) if args.trace else wl.warmup_units
            warm = [run.unit() for _ in range(n_warm)]
            setup_s = time.perf_counter() - T_START - sum(reps) + statistics.median(reps)
            steal0 = steal_seconds()
            run.timed(args.seconds)
            sample["steal_s"] = steal_seconds() - steal0
        finally:
            stop_spark(spark)
    sample.update(
        {
            "setup_reps_s": reps,
            "warmup_s": [w and w[0] for w in warm],
            "timed_s": run.walls,
            "unit_jobs": run.unit_jobs,
            "setup_s": setup_s,
            "md5_per_s_timed": [probe.rate(a, b) for a, b in run.windows],
            "md5_per_s_run": probe.rate(T_START, float("inf")),
        }
    )
    if args.trace:
        for layers in run.layer_units:
            layers.update(event_log_totals(str(work / "events"), f"u{layers.pop('_unit')}:"))
        metrics = per_layer(spec, run, sample)
    else:
        values = {
            "setup_s": setup_s,
            "wall_s_p50": statistics.median(run.walls) if run.walls else 0.0,
            "items_per_s": run.items / sum(run.walls) if run.walls else 0.0,
        }
        metrics = {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in spec["end_to_end"]
        }
    sample["metrics"] = {k: v["value"] for k, v in metrics.items()}
    return run, metrics, sample


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "crawlspark" / "__init__.py").is_file():
        print(f"perfbench: no crawlspark package under {ROOT}", file=sys.stderr)
        return 2
    spec = load_spec()
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    base = ROOT / ".perfbench_work"
    work = base / f"{args.workload}-{os.getpid()}"
    make_work_dir(work)
    try:
        run, metrics, sample = measure(args, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(base / "samples.jsonl", "a") as f:
        f.write(json.dumps(sample) + "\n")
    print(f"perfbench sample: {json.dumps(sample)}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": run.attempted > 0 and run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


def per_layer(spec: dict, run: Run, sample: dict) -> dict:
    """Median of each per-layer metric over the traced units. A layer this
    workload does not run reports 0."""
    names = [m["name"] for m in spec["per_layer"]]
    for layers in run.layer_units:
        if run.wl.name == "crawl_backlog":
            # the engine's own jobs per round: those of the untraced unit
            # that ran before the traced ones
            layers["scheduler.spark_jobs"] = run.unit_jobs[0]
        unknown = set(layers) - set(names)
        if unknown:
            raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
    values: dict[str, float] = {}
    for name in names:
        vals = [u[name] for u in run.layer_units if name in u]
        values[name] = float(statistics.median(vals)) if vals else 0.0
    values["vm.steal_s"] = sample["steal_s"]
    values["vm.md5_per_s"] = statistics.median(sample["md5_per_s_timed"])
    units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    return {n: {"value": values[n], "unit": units[n]} for n in names}


if __name__ == "__main__":
    sys.exit(main())
