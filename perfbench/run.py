#!/usr/bin/env python3
"""spark-graft benchmark: one command, one workload per call.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. Each call makes its inputs from ``--seed``
in a fresh directory under ``.bench_runs/`` (inbox, sinks, checkpoints,
warehouse, Spark local dirs, temp files), runs on
``local[nproc]`` with ``nproc`` shuffle partitions in this one client
process, checks every output, deletes the directory and prints one JSON
line: ``{"correct", "attempted", "failed", "metrics"}``. It exits 1 on any
correctness failure and when the engine package cannot be imported.

Workloads
---------
``daily_etl``        the daily job: a seeded TSV inbox through
                     ``plans.pipeline.run_batch_pipeline`` into the silver
                     parquet and silver TSV sinks (a cold job, two untimed
                     warm-up jobs, then the timed jobs), followed by an
                     untimed stream leg: the same files dropped one by one
                     into the inbox of
                     ``streaming.file_pipeline.start_file_pipeline``. The
                     JDBC sink is left out: ``sinks.writers.write_jdbc``
                     fails on embedded Derby (the one JDBC database
                     available offline) for any NULL string, because
                     Spark's Derby dialect binds NULL strings as CLOB while
                     ``PROPERTIES_DB_TYPES`` declares VARCHAR(255) columns.
``corpus_curation``  closed loop, one client, over a mix of LLM-data
                     queries from ``__spark_entry__`` on seeded parquet
                     tables: a cold round in the mix's listed order, then
                     the timed rounds, each in an order shuffled from the
                     seed.

End-to-end metrics (``--trace 0``; every workload reports all five)
-------------------------------------------------------------------
``setup_s``      the run's cold session set-up: JVM launch, ``get_spark``
                 and one trivial job. Each run is a fresh process, so the
                 runs supply the repetitions.
``cold_s``       the first pass on the fresh session: one round of the
                 mix, or the first daily job.
``op_s``         one operation of the timed loop (which lasts at least
                 ``--seconds``), each at its best sample: a round of the
                 mix, as the sum over the mix of each query's lowest
                 latency (built and consumed by the checksum action) over
                 at least three timed rounds; or the fastest of at least
                 five timed daily jobs (inbox ready until both sinks
                 committed).
                 A co-tenant or hypervisor can only slow a sample down, so
                 the best sample varies far less from run to run on a
                 shared host than the median does; medians and tail
                 percentiles with their sample counts go to stderr.
``rows_per_s``   input rows per second: rows of the tables the mix reads
                 per second of ``op_s``, or bronze rows per second of the
                 fastest daily job.
``peak_rss_mb``  peak resident memory summed over the process tree (this
                 Python process, the JVM, Python workers), sampled from
                 /proc as PSS so pages the JVM shares with a child it
                 spawns count once.

``--trace 1`` runs the same work with the layer modules wrapped from here
(spans with self time) and the status store read after every operation,
and prints the per-layer metrics instead; see ``perfbench/layers.py``.
Human-readable detail (sample counts, tail percentiles, run identity)
goes to stderr.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import random
import shutil
import signal
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path[:0] = [HERE, REPO]

import check  # noqa: E402
import datagen  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("daily_etl", "corpus_curation")

#: corpus_curation mix (order is reshuffled per round from the seed): LLM-data
#: dedup and curation queries plus one cheap query for each of the operator
#: modules relational, textstats, quality, corpus, bloom and sketch
CORPUS_MIX = [
    "exact_dedup_docs", "semantic_dedup", "url_domain_psl",
    "top3_orders_per_priority", "pii_scrub", "hash_sample", "bigram_heavy_hitters",
    "bloom_prefiltered_revenue", "hll_distinct_users",
]
#: sizes of the tables the mix reads
CORPUS_SIZE = dict(lineitem_rows=20_000, docs=1000, vecs=500)
ETL_FILES, ETL_ROWS, ETL_WARMUP_JOBS = 4, 16_000, 2
#: a daily job is short and its time still drifts down job after job, so
#: its timed loop makes more operations than MIN_TIMED_OPS
ETL_TIMED_JOBS = 5
#: the stream leg drops the day's files into its inbox this far apart
STREAM_GAP_S = 0.3
#: no hsperfdata file in /tmp: a run writes only inside its run directory
JVM_OPTS = "-XX:-UsePerfData"
#: timed corpus rounds a run makes even when --seconds is up
MIN_TIMED_OPS = 3
UNITS = {"setup_s": "s", "cold_s": "s", "op_s": "s", "rows_per_s": "rows/s",
         "peak_rss_mb": "MB"}


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class Run:
    """State of one benchmark run: session, work dir, tracing, tallies."""

    def __init__(self, args, work: str, nproc: int):
        self.args, self.work, self.nproc = args, work, nproc
        self.attempted = 0
        self.failures: list[str] = []
        self.identity: dict = {}
        self.tracer = None
        self.status = None
        self.layer: dict = {}
        self.spark = None

    def fail(self, what: str) -> None:
        self.failures.append(what)
        log(f"FAILED {what}")

    # -- session ------------------------------------------------------------

    def setup_once(self, cpus: int) -> float:
        from real_estate_project1_etl_spark import session

        t0 = time.perf_counter()
        self.spark = session.get_spark(
            "perfbench", cpus=cpus, shuffle_partitions=cpus, extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
                "spark.driver.extraJavaOptions": f"{JVM_OPTS} -Djava.io.tmpdir={self.work}/tmp",
            })
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1).count()
        return time.perf_counter() - t0

    def setup(self) -> float:
        """The cold set-up of the run: JVM launch, session, trivial job."""
        setup_s = self.setup_once(self.nproc)
        log(f"setup {setup_s:.3f}s")
        sc = self.spark.sparkContext
        self.identity.update(
            master=sc.master, default_parallelism=sc.defaultParallelism,
            java=sc._jvm.java.lang.System.getProperty("java.version"))
        return setup_s

    def reset_status(self) -> None:
        """(Re)attach the status-store reader to the current session."""
        if self.args.trace:
            from spans import StatusReader

            spent = self.status.read_s if self.status else 0.0
            self.status = StatusReader(self.spark)
            self.status.read_s += spent


def checksum(df):
    """The uniform timed action: a full-width xxhash64 checksum (row count
    and wrapping sum of the row hashes) over every column."""
    from pyspark.sql import functions as F

    row = df.select(F.xxhash64(*df.columns).alias("_h")).agg(
        F.count("_h"), F.sum("_h")
    ).collect()[0]
    return int(row[0]), int(row[1] or 0)


# --- corpus_curation ----------------------------------------------------------


def corpus_curation(run: Run) -> dict:
    data = os.path.join(run.work, "data")
    t0 = time.perf_counter()
    table_rows = datagen.corpus_tables(data, run.args.seed, **CORPUS_SIZE)
    run.identity["input_rows"] = table_rows
    run.identity["input_bytes"] = sum(
        os.path.getsize(os.path.join(data, f)) for f in os.listdir(data))
    log(f"inputs {table_rows} in {time.perf_counter() - t0:.2f}s")

    import __spark_entry__ as entry

    install_tracing(run, extra_modules=[entry])
    setup_s = run.setup()
    run.reset_status()
    queries, oracles = entry.queries(), entry.oracle_sql()
    con = check.oracle_connection(data)
    rng = random.Random(run.args.seed)
    reads: dict = {}
    expected: dict = {}

    def one(rnd: int, name: str) -> float | None:
        """One sample: construct the query and run the checksum action;
        the first sample of each query is also checked against its oracle
        (untimed). Returns the latency, or None when the sample failed."""
        run.attempted += 1
        tables: list = []
        orig = entry.load_table

        def watch(spark, sf_dir, table):
            tables.append(table)
            return orig(spark, sf_dir, table)

        entry.load_table = watch
        discard_status(run)
        try:
            with run_span(run, "entry.construct", query=name):
                t0 = time.perf_counter()
                df = queries[name](run.spark, data)
                t1 = time.perf_counter()
            layer_delta(run, "entry.construct", t1 - t0)
            with run_span(run, "entry.action", query=name):
                got = checksum(df)
                t2 = time.perf_counter()
            layer_delta(run, "entry.action", t2 - t1)
            if name not in expected:
                expected[name] = got
                if not check.matches_oracle(con, oracles[name], df.toPandas()):
                    run.fail(f"{name}: result differs from its oracle")
                    return None
            elif got != expected[name]:
                run.fail(f"{name}: checksum {got} differs from first sample {expected[name]}")
                return None
        except Exception as exc:  # noqa: BLE001 — a failed sample, not a crash
            run.fail(f"{name}: {type(exc).__name__}: {str(exc)[:200]}")
            return None
        finally:
            entry.load_table = orig
        reads[name] = sum(table_rows[t] for t in set(tables))
        log(f"round {rnd} {name}: construct {t1 - t0:.3f}s action {t2 - t1:.3f}s")
        return t2 - t0

    def round_order(rnd: int) -> list:
        """The cold round runs the mix in its listed order, so cold_s does
        not depend on which query pays the JVM's first-use costs; later
        rounds are shuffled from the seed."""
        order = list(CORPUS_MIX)
        if rnd:
            rng.shuffle(order)
        return order

    def one_round(rnd: int) -> dict:
        return {q: one(rnd, q) for q in round_order(rnd)}

    cold_s = sum(v or 0.0 for v in one_round(0).values())
    timed = []
    t_start = time.perf_counter()
    while len(timed) < MIN_TIMED_OPS or time.perf_counter() - t_start < run.args.seconds:
        timed.append(one_round(len(timed) + 1))
    samples = {q: [r[q] for r in timed if r[q] is not None] for q in CORPUS_MIX}
    run.identity["round_s"] = [round(sum(v or 0.0 for v in r.values()), 3) for r in timed]
    run.identity["round_of_medians_s"] = sum(stats.median(v) for v in samples.values())
    round_s = sum(min(v, default=float("nan")) for v in samples.values())
    return {"setup_s": setup_s, "cold_s": cold_s, "op_s": round_s,
            "rows_per_s": sum(reads.get(q, 0) for q in CORPUS_MIX) / round_s,
            "_latencies": [v for vs in samples.values() for v in vs]}


# --- tracing glue -------------------------------------------------------------


def install_tracing(run: Run, extra_modules=()) -> None:
    if run.tracer:
        run.tracer.install(extra_modules)
        layers.install_probes(run.tracer)


def discard_status(run: Run) -> None:
    """Drop status-store activity between operations (checks, set-up)."""
    if run.status:
        run.status.delta()


def run_span(run: Run, name: str, **attrs):
    return run.tracer.span(name, **attrs) if run.tracer else contextlib.nullcontext()


def layer_delta(run: Run, prefix: str, wall: float) -> None:
    """Fold the status-store delta of the operation that just ended into
    the per-layer tallies (traced runs only)."""
    if run.status:
        layers.add_delta(run.layer, prefix, run.status.delta(), wall)


# --- daily_etl ----------------------------------------------------------------


def etl_inbox(run: Run, inbox: str) -> list[str]:
    os.makedirs(inbox)
    rows = datagen.listings(run.args.seed, ETL_ROWS)
    paths, size = [], 0
    per = -(-ETL_ROWS // ETL_FILES)
    for i in range(ETL_FILES):
        p = os.path.join(inbox, f"raw_properties_{i:03d}.tsv")
        size += datagen.write_tsv(rows.iloc[i * per:(i + 1) * per], p)
        paths.append(p)
    run.identity["input_rows"] = ETL_ROWS
    run.identity["input_bytes"] = size
    return paths


def etl_job(run: Run, inbox: str, tag: str):
    from real_estate_project1_etl_spark.plans import pipeline

    out = os.path.join(run.work, "out", tag)
    t0 = time.perf_counter()
    with run_span(run, "job", tag=tag):
        res = pipeline.run_batch_pipeline(
            run.spark, inbox,
            silver_path=os.path.join(out, "silver"),
            silver_tsv_path=os.path.join(out, "silver_tsv"),
        )
    wall = time.perf_counter() - t0
    res.silver_df.unpersist()
    return res, wall, out


def check_etl_sinks(run: Run, expected: dict, out: str, tag: str) -> None:
    """The sinks of one job agree with each other and with the model."""
    import pandas as pd
    import pyarrow.parquet as pq

    parquet = pq.read_table(os.path.join(out, "silver")).to_pandas()
    tsv_dir = os.path.join(out, "silver_tsv")
    tsv = pd.concat([
        pd.read_csv(os.path.join(tsv_dir, f), sep="\t", dtype=str, keep_default_na=False)
        for f in sorted(os.listdir(tsv_dir)) if f.endswith(".csv")
    ], ignore_index=True)
    if sorted(check.canon_rows(parquet)) != sorted(check.canon_rows(tsv)):
        run.fail(f"{tag}: sinks disagree: rows parquet {len(parquet)} tsv {len(tsv)}")
    if parquet["dump_date"].isna().any():
        run.fail(f"{tag}: silver has NULL dump_date")
    for p in check.check_silver(expected, parquet, ["link"]):
        run.fail(f"{tag}: {p}")


def daily_etl(run: Run) -> dict:
    inbox = os.path.join(run.work, "inbox")
    paths = etl_inbox(run, inbox)
    install_tracing(run)
    setup_s = run.setup()
    run.reset_status()
    expected = check.outcomes(check.read_bronze(paths), ["link"])
    lo, hi = check.silver_row_range(expected)
    jobs = []

    def job(tag: str):
        run.attempted += 1
        discard_status(run)
        try:
            res, wall, out = etl_job(run, inbox, tag)
        except Exception as exc:  # noqa: BLE001 — a failed job, not a crash
            run.fail(f"{tag}: {type(exc).__name__}: {str(exc)[:200]}")
            return None, None
        layer_delta(run, "job", wall)
        log(f"{tag}: {wall:.3f}s bronze {res.bronze_rows} silver {res.silver_rows}")
        if res.bronze_rows != ETL_ROWS or not lo <= res.silver_rows <= hi:
            run.fail(f"{tag}: bronze {res.bronze_rows} silver {res.silver_rows}, "
                     f"expected {ETL_ROWS} and {lo}..{hi}")
        return wall, out

    cold_s, cold_out = job("cold")
    if cold_out:
        check_etl_sinks(run, expected, cold_out, "cold")
    for i in range(ETL_WARMUP_JOBS):  # untimed: JIT still settling
        job(f"warmup{i}")
    t_start, n = time.perf_counter(), 0
    while n < ETL_TIMED_JOBS or time.perf_counter() - t_start < run.args.seconds:
        wall = job(f"job{n}")[0]
        n += 1
        if wall is not None:
            jobs.append(wall)
    stream_leg(run, paths)
    if run.args.trace:
        layers.speedup_vs_1core(run, inbox, jobs, etl_job)
    return {"setup_s": setup_s, "cold_s": cold_s, "op_s": min(jobs, default=float("nan")),
            "rows_per_s": ETL_ROWS / min(jobs, default=float("nan")), "_latencies": jobs}


class Generator(threading.Thread):
    """Open-loop file source: renames pre-staged files into the inbox at
    their due times, whatever the pipeline is doing."""

    def __init__(self, schedule, inbox: str):
        super().__init__(daemon=True)
        self.schedule = schedule  # [(due epoch s, staged path)]
        self.inbox = inbox
        self.due: dict = {}
        self.late: list = []

    def run(self) -> None:
        for due, path in self.schedule:
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            name = os.path.basename(path)
            os.rename(path, os.path.join(self.inbox, name))
            self.due[name] = due
            self.late.append(time.time() - due)


def stream_leg(run: Run, day_files: list[str]) -> None:
    """The day's files again, through the streaming twin: a generator
    thread drops them into an empty inbox ``STREAM_GAP_S`` apart while
    ``streaming.file_pipeline.start_file_pipeline`` runs (micro-batches,
    RocksDB dedup state, WAL commits). Untimed: it feeds the streaming
    per-layer metrics and the correctness checks. Every dropped file must
    land in exactly one committed batch, and silver must match the
    per-file model."""
    from real_estate_project1_etl_spark.streaming import file_pipeline

    staged, inbox = os.path.join(run.work, "staged"), os.path.join(run.work, "stream_inbox")
    silver, ckpt = os.path.join(run.work, "stream_silver"), os.path.join(run.work, "checkpoint")
    os.makedirs(staged)
    os.makedirs(inbox)
    for p in day_files:
        shutil.copy(p, staged)
    discard_status(run)
    start = time.time()
    query = file_pipeline.start_file_pipeline(
        run.spark, inbox, silver, ckpt, available_now=False)
    schedule = [(start + 0.5 + i * STREAM_GAP_S, os.path.join(staged, os.path.basename(p)))
                for i, p in enumerate(day_files)]
    gen = Generator(schedule, inbox)
    run.attempted += len(schedule)
    backlog_max = 0
    gen.start()
    while gen.is_alive():
        committed = stats.committed_files(ckpt)
        dropped = list(gen.due)  # one atomic copy: the generator thread adds to it
        backlog_max = max(backlog_max, sum(1 for n in dropped if n not in committed))
        time.sleep(0.1)
    drained = wait_committed(ckpt, gen.due, timeout=60)
    progress = list(query.recentProgress)
    query.stop()
    discard_status(run)  # exec.* figures are per daily job
    if not drained:
        run.fail("stream did not commit every dropped file within 60 s")
    committed = stats.committed_files(ckpt)
    lags, problems = stats.file_lags(gen.due, committed)
    for p in problems:
        run.fail(p)
    run.identity["stream_lag_s"] = {n: round(v, 3) for n, v in sorted(lags.items())}
    log(f"stream leg: {len(lags)} files, lags " + ", ".join(
        f"{v:.2f}s" for _, v in sorted(lags.items())))
    if run.args.trace:
        layers.streaming(run, progress, committed, gen, backlog_max)
    keys = ["link", "file_name"]
    expected = check.outcomes(check.read_bronze(
        [os.path.join(inbox, n) for n in sorted(gen.due)]), keys)
    got = run.spark.read.parquet(silver).toPandas()
    for p in check.check_silver(expected, got, keys):
        run.fail(f"stream silver: {p}")


def wait_committed(ckpt: str, due: dict, timeout: float) -> bool:
    deadline = time.time() + timeout
    while time.time() < deadline:
        done = stats.committed_files(ckpt)
        if all(n in done for n in due):
            return True
        time.sleep(0.05)
    return False


# --- entry point --------------------------------------------------------------


def prepare_env(work: str, nproc: int) -> None:
    """Point every scratch location of Python, the JVM and Spark into the
    run directory, and let the Python workers import the engine package."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    # a small heap bounds how far the JVM grows between runs (peak_rss_mb)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LAUNCHER_OPTS"] = JVM_OPTS
    tempfile.tempdir = None  # re-read TMPDIR


def stop_jvm(run: Run) -> None:
    """Stop Spark and shut the JVM down, so the next session launches a
    new one; then wait for every process this run started (JVM, Python
    worker daemons) to end."""
    from pyspark import SparkContext

    started = [(p, stats.start_time(p)) for p in stats.descendants(os.getpid())]
    if run.spark is not None:
        try:
            run.spark.stop()
        except Exception as exc:  # noqa: BLE001
            log(f"spark.stop: {exc}")
        run.spark = None
    gw = SparkContext._gateway
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001
            pass
        proc = getattr(gw, "proc", None)
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=20)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 20
    for pid, start in started:
        while start is not None and stats.start_time(pid) == start:
            if time.time() > deadline:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
            time.sleep(0.05)


def run_identity(run: Run, load_start) -> dict:
    import pyspark

    ident = {
        "workload": run.args.workload, "seed": run.args.seed,
        "seconds": run.args.seconds, "trace": run.args.trace,
        "nproc": run.nproc, "load_start": load_start, "load_end": os.getloadavg(),
        "spark": pyspark.__version__, "python": platform.python_version(),
    }
    ident.update(run.identity)
    return ident


def main(argv=None) -> int:
    args = parse_args(argv)
    import real_estate_project1_etl_spark  # noqa: F401 — fail fast without the engine

    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(REPO, ".bench_runs", f"{args.workload}-{os.getpid()}-{time.time_ns()}")
    os.makedirs(work)
    prepare_env(work, nproc)
    os.chdir(work)  # stray files (derby.log, spark-warehouse) land in the run dir
    run = Run(args, work, nproc)
    load_start, cpu_start = os.getloadavg(), stats.cpu_jiffies()
    if args.trace:
        from spans import Tracer

        run.tracer = Tracer()
    try:
        with stats.RssSampler() as rss:
            t0 = time.perf_counter()
            result = globals()[args.workload](run)
            wall = time.perf_counter() - t0
        lat = result.pop("_latencies")
        result["peak_rss_mb"] = rss.peak / 2**20
        # traced metrics read the run dir (sink outputs): before clean-up
        metrics = layers.finish(run, wall) if args.trace else result
    finally:
        stop_jvm(run)
        os.chdir(REPO)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(REPO, ".bench_runs"))
        except OSError:
            pass
    ident = run_identity(run, load_start)
    total, steal = (b - a for a, b in zip(cpu_start, stats.cpu_jiffies()))
    ident["cpu_steal_share"] = steal / max(1, total)
    pct, tail = stats.tail_percentile(lat)
    ident["latency"] = {"samples": len(lat), "p50_s": stats.median(lat),
                        "tail_percentile": pct, "tail_s": tail}
    ident["failed_share"] = len(run.failures) / max(1, run.attempted)
    log("run_identity " + json.dumps(ident, default=str))
    out = {
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": min(len(run.failures), run.attempted),
        "metrics": {k: {"value": v, "unit": UNITS.get(k) or layers.unit(k)}
                    for k, v in metrics.items()},
    }
    for k, m in out["metrics"].items():
        log(f"{k} = {m['value']:.6g} {m['unit']}")
    print(json.dumps(out))
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
