#!/usr/bin/env python3
"""Engine benchmark: one workload, one seed, one process, one client.

    python3 perfbench/run.py --workload tlq_report --seed 1 --seconds 1 --trace 0

Run from the repository root.  The run generates its inputs from
``--seed``, starts a session the way a user does (``session.get_spark``),
then runs whole passes until ``--seconds`` have elapsed (at least one).
The first pass is the fresh session's first use, plan compilation and JIT
warm-up included, as a batch job or a new notebook session pays it; one
pass per run is what the benchmark's time budget allows.  Every op's output is checked: registry ops
against their DuckDB oracle fingerprint, the SAAF report against a DuckDB
computation over the landed JSON.  The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``.  The full record
(per-pass splits, input properties, host noise) is the line before it and
is also written under ``.perfbench/records/``.  Exit status is nonzero when
any op failed or produced a wrong result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback
from importlib import import_module

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen, host, stats  # noqa: E402
from perfbench import workloads as wl  # noqa: E402
from perfbench.trace import StatusReader, StreamingProgress, Tracer, scheduler_exec_counts  # noqa: E402
from tools.sentinel import _cpu_ticks, summarize  # noqa: E402

ENGINE = wl.ENGINE
#: cap on one op; the job group is cancelled and the op counts as failed
OP_CAP_S = 60.0
#: no new pass starts after this much wall time since process start, nor
#: after this many passes (landing batches are generated for each)
RUN_BUDGET_S = 120.0
MAX_PASSES = 4

EXEC_LAYERS = [
    "operators.dedup", "operators.similarity", "operators.transform",
    "operators.report", "operators.joins", "plans.native", "plans.streaming_batch",
]
ALL_OPS = [*wl.TLQ_OPS, "saaf_batch", *wl.DEDUP_OPS]
PER_LAYER = [
    "session.start_s", "session.first_job_s",
    "plans.build_s", "plans.build_jobs", "catalyst.plan_s",
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks", "scheduler.gap_s",
    "exec.busy_share", "exec.task_run_s", "exec.task_cpu_s", "exec.gc_s",
    "exec.input_bytes", "exec.shuffle_write_bytes", "exec.shuffle_read_bytes",
    "exec.spill_bytes",
    *[f"{layer}.exec_s" for layer in EXEC_LAYERS],
    "operators.dedup.verify_yield",
    "sources.write_s", "sources.files_written", "sources.bytes_written_per_input_byte",
    "streaming.compile_s", *StreamingProgress.KEYS.values(), "streaming.micro_batches",
    "bench.self_s", "trace.pass_s",
    *[f"op.{n}.{k}" for n in ALL_OPS for k in ("build_s", "exec_s")],
]
UNITS = {"_s": "s", "_ms": "ms", "_mb": "MB", "_bytes": "bytes", "_share": "ratio",
         "_yield": "ratio", "_byte": "ratio"}


def unit_of(name: str) -> str:
    return next((u for suf, u in UNITS.items() if name.endswith(suf)), "count")


def _environment(work: str) -> None:
    """Keep every file the run writes inside the work directory and the
    console free of progress bars."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SG_SCRATCH_DIR"] = os.path.join(work, "scratch")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "scratch", "local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault(
        "PYSPARK_SUBMIT_ARGS",
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell",
    )


def start_session(harness_s: float) -> tuple[object, dict]:
    """``get_spark`` plus a first job that ships the package zip and imports
    the engine on a Python worker in every executor slot.  Times count from
    process start, less ``harness_s`` spent generating inputs."""
    session = import_module(f"{ENGINE}.session")
    spark = session.get_spark("perfbench")
    t_start = host.since_process_start() - harness_s
    spark.sparkContext.setLogLevel("ERROR")
    session.apply_runtime_conf(spark)
    slots = spark.sparkContext.defaultParallelism

    def touch_engine(batches):
        import_module(ENGINE)
        yield from batches

    spark.range(0, slots, 1, slots).mapInPandas(touch_engine, "id long").count()
    setup = host.since_process_start() - harness_s
    return spark, {"setup_s": setup, "session.start_s": t_start, "session.first_job_s": setup - t_start}


def live_memory_mb(spark) -> float:
    """Memory the session holds after its passes: JVM heap and non-heap in
    use after a full GC, plus the resident memory of the Python client and
    workers.
    (The JVM's resident size tracks how far G1 grew the heap under its 24g
    cap, a GC-policy figure that varies run to run; it is recorded as
    ``peak_rss_mb`` beside this.)"""
    from pyspark import SparkContext

    jvm = spark._jvm
    jvm.System.gc()
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = bean.getHeapMemoryUsage().getUsed() + bean.getNonHeapMemoryUsage().getUsed()
    return used / 2**20 + host.tree_memory_mb("VmRSS", exclude=(SparkContext._gateway.proc.pid,))


def stop_engine(spark) -> None:
    """Stop the session, end the JVM (it exits when its stdin closes) and
    wait until every process of the engine tree has ended."""
    from pyspark import SparkContext

    children = [p for p in host.process_tree() if p != os.getpid()]
    spark.stop()
    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    deadline = time.time() + 30
    while children and time.time() < deadline:
        children = [p for p in children if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in children:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


class Bench:
    """One run: inputs, passes, checks and metrics for one workload."""

    def __init__(self, workload: str, seed: int, work: str, traced: bool):
        self.workload, self.seed, self.work, self.traced = workload, seed, work, traced
        self.queries = import_module(f"{ENGINE}.plans.registry")
        self.queries.load_all()
        self.data = os.path.join(work, "data")
        self.ops = wl.TLQ_OPS if workload == "tlq_report" else wl.DEDUP_OPS
        self.outcomes: list[dict] = []  # one per op attempt
        self.landed: list[str] = []  # SAAF JSON files landed so far
        self._seen_batches = 0  # streaming progress events already given to a pass
        self._table_files: set[str] = set()  # compiled-table files already counted

    def prepare(self) -> dict:
        """Generate the inputs."""
        if self.workload == "tlq_report":
            traffic = gen.write_star(self.data, self.seed, wl.TLQ_SCALE)
            traffic["saaf"] = gen.write_saaf(
                os.path.join(self.work, "runs"), self.seed,
                MAX_PASSES * wl.SAAF_BATCHES, wl.SAAF_FILES,
            )
        else:
            traffic = gen.write_corpus(self.data, self.seed, wl.CORPUS_DOCS, wl.CORPUS_VECS)
        return traffic

    def compute_oracles(self) -> None:
        self.expected = wl.registry_oracles(self.data, self.ops)

    def start(self, spark) -> None:
        self.spark = spark
        self.tracer = Tracer(spark, OP_CAP_S)
        self.slots = spark.sparkContext.defaultParallelism
        self.status = StatusReader(spark) if self.traced else None
        self.stream = StreamingProgress(spark) if self.traced and self.workload == "tlq_report" else None
        if self.workload == "tlq_report":
            from pyspark.sql.types import StructType

            self.run_schema = StructType.fromDDL(", ".join(f"`{c}` {t}" for c, t in gen.RUN_COLUMNS))
            self.engine = import_module(f"{ENGINE}.api").Engine(spark)
            self.report_cfg = import_module(f"{ENGINE}.operators.report").ReportConfig(**wl.SAAF_REPORT)

    # --- one pass -------------------------------------------------------------
    def run_pass(self, idx: int) -> dict:
        tr = self.tracer
        cpu0, ticks0 = host.tree_cpu_s(), _cpu_ticks()
        with tr.span("pass") as sp:
            root = len(tr.spans) - 1
            for name, layer in self.ops.items():
                self._op(idx, name, lambda n=name, layer=layer: self._registry_op(idx, n, layer))
            if self.workload == "tlq_report":
                for b in range(idx * wl.SAAF_BATCHES, (idx + 1) * wl.SAAF_BATCHES):
                    self.landed += wl.land(
                        os.path.join(self.work, "runs", f"batch{b}"),
                        os.path.join(self.work, "saaf", "landing"),
                    )
                    self._op(idx, "saaf_batch", lambda b=b: self._saaf_batch(b), landed=list(self.landed))
        ticks1 = _cpu_ticks()
        rec = {
            "pass": idx, "wall_s": sp.dur, "cpu_s": host.tree_cpu_s() - cpu0, "root": root,
            "op_s": [(o["op"], o["latency_s"]) for o in self.outcomes if o["pass"] == idx],
            # hypervisor steal during the pass, the main source of run-to-run noise
            "steal_pct": 100.0 * (ticks1["steal"] - ticks0["steal"]) / max(1, ticks1["total"] - ticks0["total"]),
        }
        if self.traced:
            self._trace_pass(rec)
        return rec

    def _op(self, idx: int, name: str, fn, **extra) -> None:
        out = {"pass": idx, "op": name, **extra}
        try:
            with self.tracer.span("op", op=name) as sp, self.tracer.cap():
                out["result"] = fn()
        except Exception as e:  # an op that raises or is cancelled has failed
            out["error"] = f"{type(e).__name__}: {str(e).splitlines()[0][:300] if str(e) else ''}"
        out["latency_s"] = sp.dur
        self.outcomes.append(out)

    def _registry_op(self, idx: int, name: str, layer: str):
        tr = self.tracer
        with tr.span("plans.build", group=True):
            df = self.queries.QUERIES[name](self.spark, self.data)
        if self.traced:
            with tr.span("catalyst.plan"):
                df._jdf.queryExecution().executedPlan()
        with tr.span(layer, group=True):
            if name == "tlq_transform":  # Load: the transform's output lands as parquet
                path = os.path.join(self.work, "load", f"pass{idx}")
                import_module(f"{ENGINE}.sources.io").write_parquet_partitioned(
                    df, path, partition_by=["order_priority"]
                )
                return path
            return df.toPandas()

    def _saaf_batch(self, batch: int) -> dict:
        tr = self.tracer
        base = os.path.join(self.work, "saaf")
        with tr.span("streaming.compile", group=True):
            table = import_module(f"{ENGINE}.streaming.core").available_now_compile(
                self.spark, os.path.join(base, "landing"), self.run_schema,
                checkpoint=os.path.join(base, "checkpoint"), output_dir=os.path.join(base, "table"),
            )
        with tr.span("plans.build", group=True):
            sections = self.engine.report(table, self.report_cfg)
        with tr.span("sources.write", group=True):
            return self.engine.write_report(sections, os.path.join(base, f"report{batch}"))

    # --- traced-run counts ----------------------------------------------------
    def _trace_pass(self, rec: dict) -> None:
        tr = self.tracer
        spans = tr.descendants(rec["root"])
        jobs, stages = self.status.snapshot()
        rec.update(scheduler_exec_counts(spans, jobs, stages, self.slots))
        leaf: dict[str, float] = {}
        for s in spans:
            if not s.children:
                leaf[s.name] = leaf.get(s.name, 0.0) + s.dur
        rec["leaf_s"] = leaf
        rec["bench.self_s"] = rec["wall_s"] - sum(leaf.values())
        ops: dict[str, dict[str, float]] = {}
        for s in spans:
            if s.op and not s.children:
                kind = "build_s" if s.name == "plans.build" else "exec_s"
                ops.setdefault(s.op, {"build_s": 0.0, "exec_s": 0.0})[kind] += s.dur
        rec["ops"] = ops
        written = self._written(rec["pass"])
        rec["sources.files_written"], rec["bytes_written"] = written
        if self.stream is not None:
            # progress events arrive on the listener bus after the drain returns
            deadline = time.time() + 2.0
            while len(self.stream.batches) <= self._seen_batches and time.time() < deadline:
                time.sleep(0.05)
            rec["stream"] = self.stream.batches[self._seen_batches:]
            self._seen_batches = len(self.stream.batches)

    def _written(self, idx: int) -> tuple[int, int]:
        """Data files and bytes the pass's sinks wrote."""
        batches = range(idx * wl.SAAF_BATCHES, (idx + 1) * wl.SAAF_BATCHES)
        dirs = [os.path.join(self.work, "load", f"pass{idx}")]
        dirs += [os.path.join(self.work, "saaf", f"report{b}") for b in batches]
        n = size = 0
        for d in dirs:
            for root, _, files in os.walk(d):
                for f in files:
                    if f.startswith("part-"):
                        n += 1
                        size += os.path.getsize(os.path.join(root, f))
        if self.workload == "tlq_report":  # the compiled table's files of this batch
            tdir = os.path.join(self.work, "saaf", "table")
            now = {f for f in os.listdir(tdir) if f.startswith("part-")} if os.path.isdir(tdir) else set()
            new = now - self._table_files
            n += len(new)
            size += sum(os.path.getsize(os.path.join(tdir, f)) for f in new)
            self._table_files = now
        return n, size

    def verify_yield(self) -> float:
        """Verified near-dup pairs per LSH candidate pair, counted through the
        public signature/candidate/verify functions (xxhash64 mode)."""
        dd = import_module(f"{ENGINE}.operators.dedup")
        docs = import_module(f"{ENGINE}.sources.star").table(self.spark, self.data, "documents")
        sig = dd.minhash_signatures(docs, "text", "doc_id", num_hashes=16)
        cands = dd.lsh_candidate_pairs(sig, "doc_id", bands=4, rows_per_band=4, max_bucket_size=1000).count()
        verified = dd.minhash_near_dups(
            docs, "text", "doc_id", num_hashes=16, bands=4, threshold=0.5, max_bucket_size=1000
        ).count()
        return verified / cands if cands else 0.0

    # --- checks ---------------------------------------------------------------
    def check(self) -> None:
        """Mark every outcome ok or wrong against its oracle."""
        for out in self.outcomes:
            if "error" in out:
                out["ok"] = False
                continue
            try:
                if out["op"] == "saaf_batch":
                    want = wl.saaf_report_oracle(out.pop("landed"))
                    reason = wl.check_saaf_report(out["result"], want)
                else:
                    got = out["result"]
                    if out["op"] == "tlq_transform":
                        got = wl.read_load_output(got)
                    fp = wl.frame_fingerprint(got)
                    reason = None if fp == self.expected[out["op"]] else f"{fp} != {self.expected[out['op']]}"
            except Exception as e:
                reason = f"check raised {type(e).__name__}: {e}"
            out["ok"] = reason is None
            if reason:
                out["error"] = f"wrong result: {reason}"[:500]
            out.pop("result", None)


def _median(vals) -> float:
    vals = list(vals)
    return statistics.median(vals) if vals else 0.0


def per_layer_metrics(bench: Bench, passes: list[dict], setup: dict) -> dict:
    m: dict[str, float] = {k: 0.0 for k in PER_LAYER}
    m["session.start_s"], m["session.first_job_s"] = setup["session.start_s"], setup["session.first_job_s"]
    for key in ("scheduler.jobs", "scheduler.stages", "scheduler.tasks", "scheduler.gap_s",
                "plans.build_jobs", "exec.busy_share", "exec.task_run_s", "exec.task_cpu_s",
                "exec.gc_s", "exec.input_bytes", "exec.shuffle_write_bytes",
                "exec.shuffle_read_bytes", "exec.spill_bytes", "bench.self_s",
                "sources.files_written"):
        m[key] = _median(p[key] for p in passes)
    m["trace.pass_s"] = _median(p["wall_s"] for p in passes)
    span_metric = {"plans.build": "plans.build_s", "catalyst.plan": "catalyst.plan_s",
                   "sources.write": "sources.write_s", "streaming.compile": "streaming.compile_s",
                   **{layer: f"{layer}.exec_s" for layer in EXEC_LAYERS}}
    for span, key in span_metric.items():
        m[key] = _median(p["leaf_s"].get(span, 0.0) for p in passes)
    m["sources.bytes_written_per_input_byte"] = _median(
        p["bytes_written"] / p["exec.input_bytes"] if p["exec.input_bytes"] else 0.0 for p in passes
    )
    for name in ALL_OPS:
        for kind in ("build_s", "exec_s"):
            m[f"op.{name}.{kind}"] = _median(p["ops"].get(name, {}).get(kind, 0.0) for p in passes)
    if bench.stream is not None:
        batches = [b for p in passes for b in p.get("stream", [])]
        for src, key in StreamingProgress.KEYS.items():
            m[key] = _median(b.get(src, 0) for b in batches)
        m["streaming.micro_batches"] = len(batches) / len(passes)
    if bench.workload == "corpus_dedup":
        m["operators.dedup.verify_yield"] = bench.verify_yield()
    return m


def run(args, work: str) -> dict:
    noise = {"start": {"cpu": _cpu_ticks()}}
    bench = Bench(args.workload, args.seed, work, bool(args.trace))
    t_prep = host.since_process_start()
    traffic = bench.prepare()
    spark, setup = start_session(harness_s=host.since_process_start() - t_prep)
    try:
        bench.start(spark)
        passes: list[dict] = []
        t0 = time.time()
        while not passes or (
            time.time() - t0 < args.seconds
            and host.since_process_start() < RUN_BUDGET_S
            and len(passes) < MAX_PASSES
        ):
            passes.append(bench.run_pass(len(passes)))
        peak_rss = host.tree_memory_mb("VmHWM")
        live_mem = live_memory_mb(spark)
        # DuckDB computes the oracles while the session is torn down
        oracle = threading.Thread(target=bench.compute_oracles)
        oracle.start()
        noise["end"] = {"cpu": _cpu_ticks()}
        per_layer = per_layer_metrics(bench, passes, setup) if args.trace else None
    finally:
        stop_engine(spark)
    oracle.join()
    bench.check()

    lat = [o["latency_s"] for o in bench.outcomes]
    e2e = {
        "setup_s": setup["setup_s"],
        "pass_s": _median(p["wall_s"] for p in passes),
        "op_geomean_s": stats.geomean(lat),
        "cpu_s": _median(p["cpu_s"] for p in passes),
        "live_mem_mb": live_mem,
    }
    tail = stats.tail_percentile(len(lat))
    failed = sum(1 for o in bench.outcomes if not o["ok"])
    failed_frac = stats.failed_frac(len(bench.outcomes), failed)
    metrics = per_layer if args.trace else e2e
    return {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cpus": bench.slots, "seconds": args.seconds,
        "loop": "closed", "clients": 1,
        "traffic": traffic, "setup": setup,
        "passes": [{k: v for k, v in p.items() if k not in ("root", "stream")} for p in passes],
        "op_latency": {"samples": len(lat), "p50_s": _median(lat), "tail_percentile": tail,
                       "tail_s": stats.percentile(lat, tail) if tail else None},
        "failed_frac": failed_frac,
        "peak_rss_mb": peak_rss,
        "end_to_end": e2e,
        "host_noise": summarize(noise),
        "failures": [{k: o[k] for k in ("pass", "op", "error")} for o in bench.outcomes if not o["ok"]],
        "result": {
            "correct": failed == 0,
            "attempted": len(bench.outcomes),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
        },
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["tlq_report", "corpus_dedup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    _environment(work)
    try:
        record = run(args, work)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    rec_dir = os.path.join(ROOT, ".perfbench", "records")
    os.makedirs(rec_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(rec_dir, name), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({k: v for k, v in record.items() if k != "result"}, default=str))
    print(json.dumps(record["result"]))
    return 0 if record["result"]["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
