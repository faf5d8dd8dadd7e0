"""Statement-pipeline benchmark.

    python3 perfbench/run.py --workload bank_batch --seed 1 --seconds 15 --trace 0

Runs one workload in one process on ``local[N]`` (N = min(2, cpu count)),
closed loop with one client, and prints as its last stdout line one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). A human-readable summary line precedes it. Inputs are made
from ``--seed`` by ``gen.py``; every file the run writes lives under
``.perfbench/`` at the root of the checkout. README.md describes the
workloads, the metrics and which layer metric should move which end-to-end
metric.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from datetime import date, datetime
from decimal import Decimal

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import spantrace  # noqa: E402

# two task threads: the ops are driver-bound (planning, py4j, job
# scheduling), and the spare cores keep JIT and GC threads off the tasks
CORES = max(1, min(2, os.cpu_count() or 1))
SETUP_REPS = 5
UNITS = {"setup_s": "s", "op_latency_p50_s": "s", "op_latency_tail_s": "s",
         "rows_per_s": "1/s", "peak_rss_mb": "MB"}
# span name → per-layer metric (mean self time per op)
SPAN_LAYERS = {
    "history.read_summary": "history.read_summary_s",
    "history.upsert": "history.upsert_s",
    "statements.build": "statements.build_s",
    "report.build": "report.build_s",
    "analyze": "analyze.s",
    "report.sink": "report.sink_s",
    "query.build": "query.build_s",
    "query.exec": "query.exec_s",
}
PER_LAYER = (
    *SPAN_LAYERS.values(),
    "history.store_files", "history.files_written", "history.bytes_written_per_input_byte",
    "streaming.add_batch_ms", "streaming.trigger_overhead_ms",
    "py4j.calls", "spark.driver_side_s", "spark.jobs", "spark.stages", "spark.tasks",
    "spark.task_cpu_s", "spark.gc_s", "spark.shuffle_write_bytes", "spark.spill_bytes",
    "trace.op_latency_p50_s",
)
LAYER_UNITS = {
    "history.store_files": "count", "history.files_written": "count",
    "history.bytes_written_per_input_byte": "ratio", "streaming.add_batch_ms": "ms",
    "streaming.trigger_overhead_ms": "ms", "py4j.calls": "count", "spark.jobs": "count",
    "spark.stages": "count", "spark.tasks": "count", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
}


# -- output checks -------------------------------------------------------------

def parquet_files(*dirs: str) -> list[str]:
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".parquet")]
    return out


def parquet_rows(files: list[str]) -> int:
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows for f in files)


def report_keys(report_dir: str) -> list[tuple[str, str]]:
    """(user_id, year_month) of every report document under ``report_dir``."""
    keys = []
    for path in sorted(glob.glob(f"{report_dir}/part-*.json")):
        with open(path) as f:
            for line in f:
                if line.strip():
                    doc = json.loads(line)
                    keys.append((doc["user_id"], json.loads(doc["report"])["year_month"]))
    return keys


def store_ok(store: str, expected: dict[tuple[str, str], int]) -> bool:
    """The store holds exactly the expected keys with the expected row
    counts (a restated key's old rows replaced), and every key has a
    summary partition."""
    keys = {os.path.relpath(os.path.dirname(f), store) for f in parquet_files(store)}
    if len(keys) != len(expected):
        return False
    for (user, ym), n in expected.items():
        part = f"user_id={user}/year_month={ym}"
        if parquet_rows(parquet_files(f"{store}/{part}")) != n:
            return False
        if not parquet_files(f"{store}_summary/{part}"):
            return False
    return True


def _norm(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return str(int(v)) if v == int(v) and abs(v) < 1e15 else repr(v)
    if isinstance(v, datetime):
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def result_digest(rows, cols) -> tuple[int, str]:
    """(row count, order-insensitive value hash), columns sorted by name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for line in sorted("|".join(_norm(r[i]) for i in order) for r in rows):
        h.update(line.encode() + b"\n")
    return len(rows), h.hexdigest()


# -- workloads -----------------------------------------------------------------

class Workload:
    """``prepare`` writes the inputs (benchmark side, untimed); ``warmup``
    runs untimed work; ``step`` runs one closed-loop step and returns
    ``(samples, wall_s)`` with one ``(latency_s, input_rows, ok)`` sample
    per op; ``finish`` checks the end state and returns one ok flag per
    sample."""

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.layers: dict[str, float] = {}

    def prepare(self) -> None:
        pass

    def warmup(self, spark) -> None:
        """Untimed work before the measured window (JIT and first-use costs)."""

    def begin(self) -> None:
        """Start the measured window: reset what the warm-up accumulated."""

    def finish(self, spark, samples) -> list[bool]:
        return [ok for _, _, ok in samples]


class BankBatch(Workload):
    """``run_statement_ingest(available_now=True)`` drains FILES multi-user
    CSVs (USERS users × ROWS rows, one month each; the last file also
    restates a key of the one before) into an empty store. One op is one
    micro-batch; one step is one drain into fresh directories."""

    FILES = 2
    USERS = 16
    ROWS = 20

    def prepare(self) -> None:
        g = gen.StatementGen(self.seed)
        self.src = f"{self.work}/in_src"
        self.expected: dict[tuple[str, str], int] = {}
        self.batch_keys = []
        self.input_bytes = 0
        for k in range(self.FILES):
            ym = gen.ym_add("202412", k)  # the second file is a January
            rows = []
            for u in range(1, self.USERS + 1):
                rows += g.rows(str(u), ym, self.ROWS)
            if k == self.FILES - 1:
                rows += g.rows("1", gen.ym_add(ym, -1), self.ROWS // 2)
            counts = gen.key_counts(rows)
            self.expected.update(counts)
            self.batch_keys.append(sorted(counts))
            path = f"{self.src}/{k:03d}.csv"
            self.input_bytes += gen.write_csv(path, rows)
            # the file source orders files by modification time
            os.utime(path, (1_700_000_000 + k, 1_700_000_000 + k))

    def begin(self) -> None:
        self.drains = 0
        self.batches: list[dict] = []
        self.written = [0, 0]

    def warmup(self, spark) -> None:
        from aws_financial_data_pipeline_spark.streaming.ingest import run_statement_ingest

        d = f"{self.work}/warmup"
        os.makedirs(f"{d}/in")
        shutil.copy(f"{self.src}/000.csv", f"{d}/in/")
        run_statement_ingest(
            spark, f"{d}/in", f"{d}/store", f"{d}/ckpt",
            reports_dir=f"{d}/reports", available_now=True, clean_source="off",
        ).awaitTermination()
        shutil.rmtree(d)

    def step(self, spark, tracer):
        from aws_financial_data_pipeline_spark.streaming.ingest import run_statement_ingest

        d = f"{self.work}/drain{self.drains}"
        self.drains += 1
        shutil.copytree(self.src, f"{d}/in")
        t0 = time.time()
        q = run_statement_ingest(
            spark, f"{d}/in", f"{d}/store", f"{d}/ckpt",
            reports_dir=f"{d}/reports", available_now=True, clean_source="off",
        )
        q.awaitTermination()
        wall = time.time() - t0
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        good = len(progress) == self.FILES and store_ok(f"{d}/store", self.expected)
        samples = []
        for p in progress:
            dur = p["durationMs"]
            keys = report_keys(f"{d}/reports/batch_{p['batchId']}")
            ok = good and sorted(keys) in self.batch_keys and len(set(keys)) == len(keys)
            samples.append((dur["triggerExecution"] / 1000.0, p["numInputRows"], ok))
            start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
            tracer.add_span("op", start, start + dur["triggerExecution"] / 1000.0,
                            op=len(self.batches))
            self.batches.append(dur)
        files = parquet_files(f"{d}/store", f"{d}/store_summary")
        self.written[0] += len(files)
        self.written[1] += sum(os.path.getsize(f) for f in files)
        self.layers["history.store_files"] = len(files)
        shutil.rmtree(d, ignore_errors=True)
        return samples, wall

    def finish(self, spark, samples):
        n = len(self.batches)
        self.layers["history.files_written"] = self.written[0] / n
        self.layers["history.bytes_written_per_input_byte"] = (
            self.written[1] / (self.input_bytes * self.drains))
        self.layers["streaming.add_batch_ms"] = sum(b.get("addBatch", 0) for b in self.batches) / n
        self.layers["streaming.trigger_overhead_ms"] = sum(
            b["triggerExecution"] - b.get("addBatch", 0) for b in self.batches) / n
        return [ok for _, _, ok in samples]


class HistoryAnalytics(Workload):
    """A fixed set of the registry's FINANCIAL_QUERIES over generated
    TPC-H-shaped tables at scale SF, each into the noop sink. One op is one
    query; one step is a pass over the set in a seed-shuffled order. The
    warm-up pass collects every query and checks it against DuckDB on its
    ``oracle_sql()``."""

    SF = 0.01
    # one query per plan shape: rollup, grouped aggregate, window, full
    # outer join, prediction, join+filter, nested report. The middle three
    # take about the same time, so the median of a pass's ops falls inside
    # a cluster, not in the gap between two queries.
    QUERIES = (
        "q17_rollup", "q04_spending_by_category", "q09_trend",
        "q25_category_mom_full_join", "q10_prediction", "q03_risky_transactions",
        "q15_report_document",
    )

    def prepare(self) -> None:
        import duckdb

        from aws_financial_data_pipeline_spark.plans.oracles import FINANCIAL_ORACLES
        from aws_financial_data_pipeline_spark.plans.queries import FINANCIAL_QUERIES

        self.dir = f"{self.work}/tables"
        counts = gen.write_tables(self.dir, self.seed, self.SF)
        self.lineitems = counts["lineitem"]
        self.queries = FINANCIAL_QUERIES
        self.rng = random.Random(self.seed)
        con = duckdb.connect()
        for t in counts:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.dir}/{t}.parquet')")
        self.oracle = {}
        for name in self.QUERIES:
            cur = con.execute(FINANCIAL_ORACLES[name])
            self.oracle[name] = result_digest(cur.fetchall(), [d[0] for d in cur.description])
        con.close()
        self.done = 0

    def warmup(self, spark) -> None:
        self.good = {}
        for name in self.QUERIES:
            df = self.queries[name](spark, self.dir)
            got = result_digest([tuple(r) for r in df.collect()], df.columns)
            self.good[name] = got == self.oracle[name]
            if not self.good[name]:
                print(f"oracle mismatch: {name} {got} vs {self.oracle[name]}", file=sys.stderr)

    def step(self, spark, tracer):
        # whole passes keep every query equally represented in the window
        names = list(self.QUERIES)
        self.rng.shuffle(names)
        samples, wall = [], 0.0
        for name in names:
            tracer.op = self.done
            self.done += 1
            with tracer.span("op") as s:
                with tracer.span("query.build"):
                    df = self.queries[name](spark, self.dir)
                with tracer.span("query.exec"):
                    df.write.format("noop").mode("overwrite").save()
            samples.append((s.wall, self.lineitems, self.good[name]))
            wall += s.wall
        return samples, wall


WORKLOADS = {
    "bank_batch": BankBatch,
    "history_analytics": HistoryAnalytics,
}


# -- the run ---------------------------------------------------------------------

def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it. Below 20 samples that percentile would not exceed
    the median, so the maximum (percentile 100) is reported instead."""
    s = sorted(values)
    if len(s) < 20:
        return s[-1], 100.0
    return s[len(s) - 11], 100.0 * (len(s) - 10) / len(s)


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.local.dir": f"{work}/spark-local",
        # the heap is committed up front, so peak RSS does not depend on
        # when the JVM chose to grow it
        "spark.driver.extraJavaOptions": f"-Xms1g -Djava.io.tmpdir={work}/tmp",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def layer_metrics(tracer, jobs, workload, samples) -> dict[str, float]:
    ops = [s for s in tracer.spans if s.name == "op"]
    span_op = {s.id: s.op for s in tracer.spans}
    selfs = spantrace.self_times(tracer.spans)
    out = {m: 0.0 for m in PER_LAYER}
    for s in tracer.spans:
        if s.name in SPAN_LAYERS:
            out[SPAN_LAYERS[s.name]] += selfs[s.id] / len(ops)
    driver_side = 0.0
    for op in ops:
        # a job belongs to the op of the span whose group it ran under;
        # jobs outside any op-tagged span (a micro-batch's) go by time
        mine = [
            j for j in jobs
            if (span_op[j.group] == op.op if span_op.get(j.group) is not None
                else op.start <= j.start <= op.end)
        ]
        driver_side += op.wall - spantrace.union_length(
            [(j.start, j.end) for j in mine], op.start, op.end)
        for key, attr in (("spark.jobs", None), ("spark.stages", "stages_run"),
                          ("spark.tasks", "tasks"), ("spark.task_cpu_s", "cpu_s"),
                          ("spark.gc_s", "gc_s"), ("spark.shuffle_write_bytes", "shuffle_write_bytes"),
                          ("spark.spill_bytes", "spill_bytes")):
            out[key] += (len(mine) if attr is None else sum(getattr(j, attr) for j in mine)) / len(ops)
    out["spark.driver_side_s"] = driver_side / len(ops)
    out["py4j.calls"] = tracer.py4j_calls / len(ops)
    out["trace.op_latency_p50_s"] = statistics.median(lat for lat, _, _ in samples)
    out.update(workload.layers)
    return out


def stop_jvm(spark) -> None:
    """Stop Spark and wait until the JVM it launched has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def run(args) -> dict:
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "spark-local", "eventlog"):
        os.makedirs(f"{work}/{sub}", exist_ok=True)
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)

    sys.path.insert(0, ROOT)
    from aws_financial_data_pipeline_spark.session import get_spark

    w = WORKLOADS[args.workload](work, args.seed)
    w.prepare()
    tracer = spantrace.Tracer()
    spark = None
    setups = []
    try:
        # set-up is session.get_spark, SETUP_REPS times on fresh Spark
        # contexts; the first also launches the JVM, the median is reported
        for _ in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            t0 = time.time()
            spark = get_spark("perfbench", master=f"local[{CORES}]", shuffle_partitions=CORES,
                              extra_conf=spark_conf(work, args.trace))
            setups.append(time.time() - t0)
        log("setup " + " ".join(f"{t:.3f}" for t in setups))
        w.warmup(spark)
        w.begin()
        log("measuring")
        if args.trace:
            tracer.sc = spark.sparkContext
            spantrace.instrument(tracer)
        samples, wall = [], 0.0
        t_end = time.time() + args.seconds
        while not samples or time.time() < t_end:
            try:
                s, dt = w.step(spark, tracer)
            except Exception:
                traceback.print_exc()
                s, dt = [(float("nan"), 0, False)], 0.0
            samples += s
            wall += dt
        log("latencies " + " ".join(f"{lat:.2f}" for lat, _, _ in samples))
        oks = w.finish(spark, samples)
        jvm_pid = spark.sparkContext._gateway.proc.pid
        rss = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)
        app_id = spark.sparkContext.applicationId
    finally:
        if spark is not None:
            stop_jvm(spark)

    lats = [lat for lat, _, _ in samples if not math.isnan(lat)]
    failed = sum(1 for ok in oks if not ok)
    tail_v, tail_p = tail(lats)
    e2e = {
        "setup_s": statistics.median(setups),
        "op_latency_p50_s": statistics.median(lats),
        "op_latency_tail_s": tail_v,
        "rows_per_s": sum(r for _, r, _ in samples) / wall,
        "peak_rss_mb": rss,
    }
    print(f"workload={args.workload} seed={args.seed} ops={len(samples)} failed={failed} "
          f"failed_ops_ratio={failed / len(samples):.4f} tail=p{tail_p:.1f}(n={len(lats)}) "
          + " ".join(f"{k}={v:.4g}" for k, v in e2e.items()))
    if args.trace:
        with open(f"{work}/eventlog/{app_id}") as f:
            jobs = spantrace.parse_event_log(f)
        metrics = layer_metrics(tracer, jobs, w, samples)
        os.makedirs(os.path.join(ROOT, ".perfbench", "traces"), exist_ok=True)
        tracer.dump(os.path.join(ROOT, ".perfbench", "traces", f"{args.workload}-{args.seed}.json"),
                    {"metrics": metrics, "jobs": [j.__dict__ for j in jobs]})
        out = {k: {"value": v, "unit": LAYER_UNITS.get(k, "s")} for k, v in metrics.items()}
    else:
        out = {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()}
    shutil.rmtree(work, ignore_errors=True)
    return {"correct": failed == 0, "attempted": len(samples), "failed": failed, "metrics": out}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    result = run(p.parse_args())
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
