"""Benchmark of the HDI job and a catalog query mix, end to end and per layer.

Run from the root of a checkout:

    python3 perfbench/run.py --workload reimport_encrypted --seed 1 --seconds 5 --trace 0

One process, one Spark session on ``local[<cpus>]``. Set-up starts the
session, ships the package and runs one untimed warm-up iteration (which
also fills the program's memos, e.g. the ANN fits). Then iterations run
back to back until ``--seconds`` have passed (at least one); each is
checked for correct output outside its timed region. An iteration of
either workload takes longer than the benchmark's ``run_seconds``, so a
run measures exactly one: the ~40 s set-up (JVM start and a cold warm-up
iteration) is what bounds how many runs fit in a time budget.

The end-to-end metrics are CPU seconds, summed over this process, the
JVM and the Python workers. On a shared 4-vCPU VM the host took 1-22 %
of the vCPUs' time ("steal" in /proc/stat) during a run, and over ten
seeds the spread (IQR / median) of one iteration's wall time reached
0.15-0.45, against 0.06-0.13 for its CPU seconds. Wall times are still
recorded in the info record, with the steal share.

``--trace 0`` prints the end-to-end metrics: ``cpu_s`` (CPU seconds of
the median iteration) and ``setup_s`` (CPU seconds of the set-up).
``--trace 1`` starts the session with Spark's event log on, alternates
plain and layer-by-layer iterations and prints the per-layer metrics
(medians over the traced iterations).

Everything the run writes stays under ``.perfbench_work/`` in the
checkout. The last line of stdout is the result record; the line before
it is an ``info`` record (environment, fixture sizes, wall and CPU
samples, RSS).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "uc_historic_data_importer_spark"

END_TO_END = {"cpu_s": "s", "setup_s": "s"}


def _workloads(tiny: bool) -> dict:
    from workloads import CatalogMix, JobWorkload

    def job(name, files, records, encrypt, snapshot):
        if tiny:
            files, records = min(files, 4), 60
        return JobWorkload(name, files, records, encrypt=encrypt, snapshot=snapshot)

    return {
        # BENCHMARK.json lists reimport_encrypted and catalog_mix; the other
        # two shapes are kept for manual study of per-record vs per-file cost
        "reimport_encrypted": job("reimport_encrypted", 8, 2500, encrypt=True, snapshot=True),
        "bulk_import": job("bulk_import", 8, 2500, encrypt=False, snapshot=False),
        "many_small_files": job("many_small_files", 120, 100, encrypt=False, snapshot=False),
        "catalog_mix": CatalogMix(sf=0.002 if tiny else 0.01),
    }


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run prints, with its unit."""
    from workloads import CATALOG_QUERIES, EVENT_FIELDS

    units = {}
    ev_unit = {"tasks": "count", "cpu_s": "s", "shuffle_write_mb": "MB", "spill_mb": "MB", "gc_s": "s"}
    for layer in (
        "listing", "metadata", "key_service", "crypto_source", "transforms",
        "envelope", "filters", "pipeline", "sinks",
    ):
        units.update({f"{layer}.{f}": ev_unit[f] for f in EVENT_FIELDS})
    units.update(
        {
            "listing.wall_s": "s",
            "metadata.wall_s": "s",
            "metadata.jobs": "count",
            "key_service.wall_s": "s",
            "key_service.keys": "count",
            "crypto_source.wall_s": "s",
            "crypto_source.partitions": "count",
            "crypto_source.in_mb": "MB",
            "crypto_source.lines": "count",
            "crypto_source.python_run_s": "s",
            "transforms.self_s": "s",
            "transforms.valid_ratio": "ratio",
            "transforms.python_run_s": "s",
            "envelope.self_s": "s",
            "envelope.python_run_s": "s",
            "filters.self_s": "s",
            "filters.put_ratio": "ratio",
            "pipeline.persist_s": "s",
            "pipeline.counts_s": "s",
            "pipeline.counts_shuffle_write_mb": "MB",
            "sinks.kv_s": "s",
            "sinks.kv_rows": "count",
            "sinks.kv_mb": "MB",
            "sinks.manifest_s": "s",
            "sinks.manifest_files": "count",
        }
    )
    for q in CATALOG_QUERIES:
        units.update(
            {
                f"catalog.{q}.build_s": "s",
                f"catalog.{q}.exec_s": "s",
                f"catalog.{q}.jobs": "count",
                f"catalog.{q}.shuffle_write_mb": "MB",
            }
        )
    units.update({f"catalog.{f}": ev_unit[f] for f in EVENT_FIELDS})
    units["trace.mirror_coverage"] = "ratio"
    return units


def _process_tree() -> list[int]:
    """Pids of this process and its descendants: the JVM, the Python
    worker daemon and its workers."""
    pids, stack = [], [os.getpid()]
    while stack:
        pid = stack.pop()
        try:
            tasks = os.listdir(f"/proc/{pid}/task")
        except (FileNotFoundError, ProcessLookupError):
            continue  # the process ended
        pids.append(pid)
        for task in tasks:
            try:
                with open(f"/proc/{pid}/task/{task}/children") as fh:
                    stack.extend(int(c) for c in fh.read().split())
            except (FileNotFoundError, ProcessLookupError):
                continue  # the thread ended; the JVM starts and ends many
    return pids


def _process_tree_rss_mb() -> float:
    """RSS summed over the process tree. Forked Python workers share
    pages, so this over-counts; it is information only."""
    total = 0
    for pid in _process_tree():
        try:
            with open(f"/proc/{pid}/status") as fh:
                total += next((int(line.split()[1]) for line in fh if line.startswith("VmRSS:")), 0)
        except (FileNotFoundError, ProcessLookupError):
            continue
    return total / 1024


def _process_tree_cpu_s() -> float:
    """CPU seconds (user + system) the process tree has used so far.
    Children that ended count through their parent's ``cutime``."""
    total = 0
    for pid in _process_tree():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except (FileNotFoundError, ProcessLookupError):
            continue
        total += sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


def _steal_jiffies() -> tuple[int, int]:
    """(steal, all) jiffies of every vCPU so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(f) for f in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def _git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def _start_session(work: Path, cpus: int, log_dir: Path | None):
    from uc_historic_data_importer_spark.session import get_spark
    from uc_historic_data_importer_spark.shipping import ensure_shipped

    import eventlog

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if log_dir is not None:
        eventlog.clear(str(log_dir))
        conf.update(eventlog.conf(str(log_dir)))
    spark = get_spark(app_name="perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    ensure_shipped(spark)
    return spark


def _stop_session(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _setup_env(work: Path) -> None:
    """Keep every file the run writes inside the checkout, and let the
    Python workers import the package from it."""
    for sub in ("tmp", "spark-local", "warehouse"):
        shutil.rmtree(work / sub, ignore_errors=True)  # a previous run's leftovers
        (work / sub).mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # every JVM spark-submit starts: temp files in the checkout, and no
    # hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        (os.environ.get("JAVA_TOOL_OPTIONS", ""), f"-Djava.io.tmpdir={work / 'tmp'}", "-XX:-UsePerfData")
    ).strip()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), str(HERE), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")
    for p in (str(ROOT / "tools"), str(ROOT)):
        if p not in sys.path:
            sys.path.insert(0, p)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="tiny fixtures (smoke test)")
    ap.add_argument(
        "--wrong-expectation",
        action="store_true",
        help="corrupt one expected value, so every check fails (smoke test)",
    )
    args = ap.parse_args(argv)

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: no {PACKAGE} package under {ROOT}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work"
    _setup_env(work)
    workloads = _workloads(args.tiny)
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads)}", file=sys.stderr)
        return 2
    wl = workloads[args.workload]
    wl.wrong_expectation = args.wrong_expectation
    cpus = len(os.sched_getaffinity(0))

    t0 = time.perf_counter()
    wl.generate(args.seed, str(work))
    fixture_s = time.perf_counter() - t0

    log_dir = work / "eventlog" if args.trace else None
    t0, setup_cpu0 = time.perf_counter(), _process_tree_cpu_s()
    spark = _start_session(work, cpus, log_dir)
    session_s = time.perf_counter() - t0
    try:
        t0 = time.perf_counter()
        wl.prepare(spark)
        fixture_s += time.perf_counter() - t0

        t0 = time.perf_counter()
        _, warm_out = wl.iterate()
        warmup_s = time.perf_counter() - t0
        setup_cpu_s = _process_tree_cpu_s() - setup_cpu0
        warm_problems = wl.check(warm_out)

        walls, cpus_used, traced, rss = [], [], [], []
        attempted = failed = 0
        steal0 = _steal_jiffies()
        deadline = time.perf_counter() + args.seconds
        while attempted == 0 or time.perf_counter() < deadline:
            for mode in ("plain", "traced") if args.trace else ("plain",):
                attempted += 1
                try:
                    if mode == "plain":
                        cpu0 = _process_tree_cpu_s()
                        wall, out = wl.iterate()
                        cpus_used.append(_process_tree_cpu_s() - cpu0)
                        walls.append(wall)
                    else:
                        tag = str(len(traced))
                        spans, counts, out = wl.traced(tag)
                        traced.append((tag, spans, counts, walls[-1]))
                    problems = wl.check(out)
                except Exception:  # noqa: BLE001 — a failed iteration is counted, the run goes on
                    traceback.print_exc()
                    problems = ["iteration raised"]
                rss.append(_process_tree_rss_mb())
                if problems:
                    failed += 1
                    print(f"perfbench: {mode} iteration {attempted} failed: {problems}", file=sys.stderr)
        steal, ticks = (b - a for a, b in zip(steal0, _steal_jiffies()))
        java = spark.sparkContext._jvm.System.getProperty("java.version")
    finally:
        _stop_session(spark)

    if warm_problems:
        print(f"perfbench: warm-up output check failed: {warm_problems}", file=sys.stderr)
        failed += 1
        attempted += 1
    if not walls or (args.trace and not traced):
        print("perfbench: no iteration completed", file=sys.stderr)
        return 1

    import pyspark

    wall = statistics.median(walls)
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": cpus,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": java,
        "git_commit": _git_commit(),
        "fixture": wl.sizes,
        "fixture_s": fixture_s,
        "session_s": session_s,
        "warmup_s": warmup_s,
        "wall_samples_s": walls,
        "cpu_samples_s": cpus_used,
        "wall_s": wall,
        "records_per_s": wl.records / wall,
        # share of the vCPUs' time the host gave to others while measuring
        "steal_frac": steal / max(ticks, 1),
        "failed_frac": failed / attempted,
        "rss_mb_info_only": {"median": statistics.median(rss), "max": max(rss)},
    }
    if args.trace:
        import eventlog

        table = eventlog.read_log(str(log_dir))
        samples: dict[str, list[float]] = {}
        for tag, spans, counts, plain_wall in traced:
            groups = {g.rsplit("#", 1)[0]: row for g, row in table.items() if g.endswith("#" + tag)}
            for name, value in wl.layer_metrics(spans, counts, groups, plain_wall).items():
                samples.setdefault(name, []).append(float(value))
        info["event_log_groups"] = table
        units = per_layer_units()
        unknown = set(samples) - set(units)
        if unknown:
            raise RuntimeError(f"per-layer metrics without a unit: {sorted(unknown)}")
        # layers the workload does not run did no work on it
        metrics = {
            name: {"value": statistics.median(samples.get(name, [0.0])), "unit": unit}
            for name, unit in units.items()
        }
    else:
        values = {"cpu_s": statistics.median(cpus_used), "setup_s": setup_cpu_s}
        metrics = {name: {"value": values[name], "unit": unit} for name, unit in END_TO_END.items()}

    print(json.dumps({"info": info}, default=str))
    print(
        json.dumps(
            {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
