#!/usr/bin/env python3
"""Benchmark of the KG engine: transcripts → graph table.

    python3 perfbench/run.py --workload oneshot_mixed --seed 1 --seconds 10 --trace 0

Run from the repository root. One client drives the engine's public
entry points in a closed loop on ``local[k]`` (the next run starts when
the previous one has finished), over a seeded transcript table written
to parquet during set-up. Every run's graph table is checked against
``oracle.oracle_triples`` on the same input, outside the timed region.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` also runs the
traced layer chain (see ``layers.py``) and prints the per-layer metrics.
A ``detail`` line before the result carries the input stats, the host
stamp, every sample, ``failed_share`` and ``oracle_mismatch_triples``.
The last line is the result object.

The input, outputs, event log and JVM temp files go under
``.perfbench_work/`` in the repository root. Spark's scratch (shuffle
files, spills, the engine's stage table) goes where the engine puts it
by default, on tmpfs (``/dev/shm``), in a directory of this run's own.
Both are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

import pyarrow as pa

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

import check  # noqa: E402
import host  # noqa: E402
import inputs  # noqa: E402
import layers  # noqa: E402
from glean_cetaf_rdfs_spark.oracle import oracle_triples  # noqa: E402
from glean_cetaf_rdfs_spark.plans.pipeline import run_pipeline  # noqa: E402
from glean_cetaf_rdfs_spark.session import get_spark  # noqa: E402
from glean_cetaf_rdfs_spark.sources.readers import read_transcripts  # noqa: E402
from glean_cetaf_rdfs_spark.streaming.checkpoint import compact_buckets  # noqa: E402
from tracing import Tracer, attribute  # noqa: E402

WORKLOADS = ("oneshot_mixed", "oneshot_longtext", "crash_resume")
N_TURNS = 20_000
N_BUCKETS, FAIL_AFTER_BUCKET = 8, 5
SETUP_PROBES = 1  # fresh processes that only set up, besides this one
RUN_TIMEOUT_S = 120
WARMUP_RUNS = 3
MIN_WARM_RUNS = 3  # a median of two is their mean: one disturbed run moves it
CORES = min(4, host.nproc())  # local[k]


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--setup-probe", metavar="WORK_DIR",
                   help=argparse.SUPPRESS)  # child mode: set up once, report
    return p.parse_args(argv)


def spark_conf(work: Path, driver_mem_mb: int, event_log: Path | None = None) -> dict:
    conf = {
        "spark.driver.memory": f"{driver_mem_mb}m",
        "spark.driver.extraJavaOptions":
            # heap pinned as bench.py does, against G1 resize churn
            f"-Xms{driver_mem_mb}m -Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if event_log is not None:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": event_log.as_uri(),
                     "spark.eventLog.compress": "false"})
    return conf


def scratch_dir(work: Path) -> Path:
    """Spark's scratch for this run: on tmpfs when the host lets us write
    there, as the engine's default scratch is, else under ``work``."""
    if os.access("/dev/shm", os.W_OK):
        return Path("/dev/shm") / f"perfbench-{work.name}"
    return work / "local"


def confine(work: Path, scratch: Path, driver_mem_mb: int) -> None:
    """Keep every file Spark, the JVM and Python workers write in
    ``work`` or ``scratch``; child processes inherit the settings."""
    for d in (scratch, work / "tmp", work / "warehouse"):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = str(scratch)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_mem_mb}m"
    os.environ["TMPDIR"] = str(work / "tmp")


def new_session(conf: dict):
    return get_spark("perfbench", master=f"local[{CORES}]", extra_conf=conf)


def close_jvm(launcher) -> None:
    """Wait for the JVM of a stopped session to exit (its gateway exits
    when stdin closes), so no JVM outlives the run or overlaps the next
    measurement."""
    launcher.stdin.close()
    launcher.wait(timeout=60)


def setup_probe(work: Path, driver_mem_mb: int) -> None:
    """Child mode: build a session, report the time since this process
    started (imports included), stop."""
    spark = new_session(spark_conf(work, driver_mem_mb))
    print(json.dumps({"setup_s": host.seconds_since_start()}), flush=True)
    launcher = spark.sparkContext._gateway.proc
    spark.stop()
    close_jvm(launcher)


def probe_setups(workload: str, work: Path) -> list[float]:
    out = []
    for _ in range(SETUP_PROBES):
        res = subprocess.run(
            [sys.executable, __file__, "--workload", workload,
             "--setup-probe", str(work)],
            capture_output=True, text=True, timeout=90, check=True, cwd=ROOT)
        out.append(json.loads(res.stdout.strip().splitlines()[-1])["setup_s"])
    return out


class Runner:
    """One workload's closed-loop runs in one session, with the oracle
    check after each run."""

    def __init__(self, spark, workload: str, in_path: str, work: Path,
                 oracle: pa.Table):
        self.spark, self.workload, self.in_path = spark, workload, in_path
        self.work, self.oracle = work, oracle
        self.runs: list[dict] = []

    def _timed(self, run_dir: Path) -> tuple[float, float | None, Path]:
        """Wall time, recovery time (``crash_resume`` only) and the
        graph table of one run."""
        spark = self.spark
        if self.workload != "crash_resume":
            out = run_dir / "graph"
            t0 = time.perf_counter()
            run_pipeline(spark, read_transcripts(spark, self.in_path), str(out),
                         lineage_path=str(run_dir / "lineage"),
                         quarantine_path=str(run_dir / "quarantine"))
            return time.perf_counter() - t0, None, out
        bucketed, ckpt = str(run_dir / "bucketed"), str(run_dir / "ckpt")
        out = run_dir / "graph"
        t0 = time.perf_counter()
        layers.crash(spark, self.in_path, bucketed, ckpt, N_BUCKETS, FAIL_AFTER_BUCKET)
        t1 = time.perf_counter()
        layers.resume(spark, self.in_path, bucketed, ckpt, N_BUCKETS)
        compact_buckets(spark, bucketed, str(out))
        t2 = time.perf_counter()
        return t2 - t0, t2 - t1, out

    def run(self) -> dict:
        run_dir = self.work / "runs" / str(len(self.runs))
        rec: dict = {"ok": False}
        timer = threading.Timer(RUN_TIMEOUT_S, self.spark.sparkContext.cancelAllJobs)
        timer.start()
        t0 = time.perf_counter()
        try:
            try:
                rec["wall_s"], rec["recovery_s"], out = self._timed(run_dir)
            finally:
                rec["attempt_s"] = time.perf_counter() - t0
        except Exception as e:  # noqa: BLE001 — a failed run is counted, not fatal
            rec["error"] = f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
            rec["timed_out"] = not timer.is_alive()
        else:
            res = check.check_table(str(out), self.oracle)
            rec.update(ok=res.ok, triples=res.triples, extra=res.extra,
                       missing=res.missing, duplicate_rows=res.duplicate_rows,
                       mismatch=res.mismatch,
                       output_bytes=check.dir_bytes(str(out)),
                       output_files=len(check.table_files(str(out))))
        finally:
            timer.cancel()
            shutil.rmtree(run_dir, ignore_errors=True)
        self.runs.append(rec)
        return rec

    def loop(self, seconds: float) -> list[dict]:
        """Closed loop: runs back to back until they have taken
        ``seconds`` in total and there are at least MIN_WARM_RUNS of
        them. The oracle checks between runs do not count towards
        ``seconds``."""
        done: list[dict] = []
        while (len(done) < MIN_WARM_RUNS
               or sum(r["attempt_s"] for r in done) < seconds):
            done.append(self.run())
        return done


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(workload: str, setups: list[float], cold: dict, warm: list[dict],
               peak_rss_mb: float) -> dict:
    timed = [r for r in warm if "wall_s" in r]
    wall = statistics.median(r["wall_s"] for r in timed)
    checked = [r for r in [cold] + warm if "triples" in r]
    triples = statistics.median(r["triples"] for r in checked)
    m = {
        "setup_s": metric(statistics.median(setups), "s"),
        "cold_wall_s": metric(cold["wall_s"], "s"),
        "wall_s": metric(wall, "s"),
        "triples_per_s": metric(triples / wall, "triples/s"),
        "output_bytes_per_triple": metric(
            statistics.median(r["output_bytes"] / r["triples"] for r in checked),
            "bytes/triple"),
        "output_files": metric(statistics.median(r["output_files"] for r in checked),
                               "count"),
        "peak_rss_mb": metric(peak_rss_mb, "MB"),
    }
    if workload == "crash_resume":
        m["recovery_s"] = metric(
            statistics.median(r["recovery_s"] for r in timed), "s")
    return m


def traced_run(spark, workload: str, in_path: str, work: Path, oracle: pa.Table,
               untraced_wall: float) -> tuple[dict, dict, list[dict]]:
    """The traced run, in a session whose event log is on.

    Returns the per-layer metrics, the per-span detail and the checks
    that count as runs of this workload. The layer chain is the traced
    form of ``run_pipeline``; the checkpoint pass is the traced form of
    the crash/resume/compact cycle. Both run on every workload so every
    per-layer metric is reported, but only the pass that traces the
    workload's own entry points sets ``trace.*`` and counts as its run.
    """
    jvm = host.jvm_pid(spark)
    tracer = Tracer(label=spark.sparkContext.setJobDescription,
                    probe=lambda: {"cpu_s": host.tree_cpu_s(host.descendants(jvm))})
    paths = {k: str(work / "traced" / k) for k in ("graph", "bucketed", "ckpt", "compacted")}
    with tracer.span("chain"):
        counts = layers.layer_chain(spark, tracer, in_path, paths["graph"])
    with tracer.span("checkpoint"):
        counts.update(layers.checkpoint_layer(
            spark, tracer, in_path, paths["bucketed"], paths["ckpt"],
            paths["compacted"], N_BUCKETS, FAIL_AFTER_BUCKET))
    checks = {}
    for table in ("graph", "compacted"):
        res = check.check_table(paths[table], oracle)
        checks[table] = {"table": table, "ok": res.ok, "mismatch": res.mismatch,
                         "duplicate_rows": res.duplicate_rows}
    spark.stop()  # flushes the event log
    by_span = attribute(str(work / "eventlog"))

    def busy(name: str) -> float:
        return tracer.self_time(tracer.get(name))

    def ev(name: str, key: str) -> float:
        return by_span.get(name, {}).get(key, 0.0)

    if workload == "crash_resume":
        root, coverage, own = "checkpoint", layers.CHECKPOINT_COVERAGE, "compacted"
    else:
        root, coverage, own = "chain", layers.CHAIN_COVERAGE, "graph"
    m = {
        "readers.scan_s": metric(busy("readers"), "s"),
        "extract.busy_s": metric(busy("extract"), "s"),
        # CPU of the JVM and its Python workers over the span, from
        # /proc (the event log's executor CPU misses the Python side)
        "extract.cpu_s": metric(tracer.get("extract").counters["cpu_s"], "s"),
        "extract.python_bytes": metric(ev("extract", "python_bytes"), "bytes"),
        "canonicalize.busy_s": metric(busy("canonicalize"), "s"),
        "pipeline.stage_write_s": metric(busy("pipeline.stage_write"), "s"),
        "link.plan_s": metric(busy("link.plan"), "s"),
        "link.busy_s": metric(busy("link"), "s"),
        "enrich.busy_s": metric(busy("enrich"), "s"),
        "materialize.dedupe_s": metric(busy("materialize.dedupe"), "s"),
        "materialize.shuffle_bytes": metric(ev("materialize.dedupe", "shuffle_bytes"),
                                            "bytes"),
        "materialize.write_s": metric(busy("materialize.write"), "s"),
        "checkpoint.compact_s": metric(busy("checkpoint.compact"), "s"),
        "trace.coverage": metric(sum(busy(n) for n in coverage) / untraced_wall, "ratio"),
        "trace.overhead": metric(tracer.get(root).duration / untraced_wall, "ratio"),
    }
    units = {"readers.rows_in": "count", "readers.quarantined": "count",
             "extract.rows_out": "count", "extract.triples_per_turn": "triples/turn",
             "canonicalize.dropped": "count", "canonicalize.sameas_rows": "count",
             "pipeline.stage_bytes": "bytes", "pipeline.stage_scans": "count",
             "pipeline.shuffle_exchanges": "count",
             "pipeline.broadcast_exchanges": "count", "link.hit_ratio": "ratio",
             "enrich.rows_out": "count", "materialize.dedupe_ratio": "ratio",
             "checkpoint.bucket_s": "s", "checkpoint.redo_ratio": "ratio",
             "checkpoint.dup_ratio": "ratio"}
    m.update({k: metric(counts[k], u) for k, u in units.items()})
    detail = {
        "spans": {s.name: {"self_s": tracer.self_time(s),
                           "proc_cpu_s": s.counters.get("cpu_s"),
                           **by_span.get(s.name, {})} for s in tracer.spans},
        "checks": list(checks.values()),
    }
    return dict(sorted(m.items())), detail, [checks[own]]


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if os.environ.get("SPARK_GRAFT_STAGE_SECT", "1") != "1":
        print("refusing: SPARK_GRAFT_STAGE_SECT must stay at its default (1)",
              file=sys.stderr)
        return 2
    driver_mem_mb = host.driver_memory_mb(host.mem_total_mb())
    if args.setup_probe:
        setup_probe(Path(args.setup_probe), driver_mem_mb)
        return 0

    imports_s = host.seconds_since_start()
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    scratch = scratch_dir(work)
    confine(work, scratch, driver_mem_mb)
    spark = jvm_launcher = None
    try:
        pdf = inputs.make_input(args.workload, args.seed, N_TURNS)
        in_path = str(work / "input.parquet")
        inputs.write_parquet(pdf, in_path)
        stats = inputs.input_stats(pdf)
        oracle = check.oracle_table(oracle_triples(pdf))
        del pdf

        setups = [] if args.trace else probe_setups(args.workload, work)
        t0 = time.perf_counter()
        spark = new_session(spark_conf(work, driver_mem_mb))
        setups.insert(0, imports_s + time.perf_counter() - t0)
        jvm_launcher = spark.sparkContext._gateway.proc
        runner = Runner(spark, args.workload, in_path, work, oracle)
        cold = runner.run()
        # warm-up: the next runs still get faster (JIT); they are checked
        # and counted but not timed into the warm metrics. A fixed count,
        # so a slow phase of the host does not also cut the warm-up short.
        # A crash_resume cycle is itself nine builds, warm after the first.
        for _ in range(0 if args.workload == "crash_resume" else WARMUP_RUNS):
            runner.run()
        warm = runner.loop(args.seconds)
        peak_rss = host.vm_hwm_mb(host.descendants(host.jvm_pid(spark)))
        spark.stop()
        spark = None
        if not any("wall_s" in r for r in warm) or "wall_s" not in cold:
            print(json.dumps({"detail": {"runs": runner.runs}}))
            print("the cold run or every warm run raised", file=sys.stderr)
            return 1

        runs = list(runner.runs)
        if args.trace:
            untraced = statistics.median(r["wall_s"] for r in warm if "wall_s" in r)
            (work / "eventlog").mkdir(exist_ok=True)
            spark = new_session(spark_conf(work, driver_mem_mb,
                                           event_log=work / "eventlog"))
            metrics, trace, counted = traced_run(spark, args.workload, in_path,
                                                 work, oracle, untraced)
            spark = None
            runs += counted
            extra_detail = {"trace": trace}
        else:
            metrics = end_to_end(args.workload, setups, cold, warm, peak_rss)
            extra_detail = {}

        failed = sum(1 for r in runs if not r["ok"])
        detail = {
            "workload": args.workload, "seed": args.seed, "input": stats,
            "host": host.stamp(CORES, driver_mem_mb), "setup_samples_s": setups,
            "failed_share": failed / len(runs),
            "oracle_mismatch_triples": max(r.get("mismatch", 0) for r in runs),
            "runs": runs, **extra_detail,
        }
        print(json.dumps({"detail": detail}))
        print(json.dumps({"correct": failed == 0, "attempted": len(runs),
                          "failed": failed, "metrics": metrics}), flush=True)
        return 0
    finally:
        if spark is not None:
            spark.stop()
        if jvm_launcher is not None:
            close_jvm(jvm_launcher)
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            (ROOT / ".perfbench_work").rmdir()
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
