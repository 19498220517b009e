"""FDI-engine benchmark: one process per run, one workload per run.

    python3 fdibench/run.py --workload series_fdi --seed 1 --seconds 10 --trace 0

Run from the repository root. A run

1. writes a seeded ~90% subset of the fixture tables it reads (and, for
   ``series_fdi``, a streaming backlog) under ``.fdibench_work/`` in the
   working directory (untimed, removed at exit);
2. sets up (``setup_s``): starts the engine with ``core.session.get_spark``
   on ``local[<cpus>]`` and runs one cold pass that keeps every output for
   the checks in step 4;
3. times the workload's rounds, at least its ``rounds`` and for at least
   ``--seconds`` seconds: each round writes every registry query of the
   workload to the ``noop`` sink; then (``series_fdi``) the backlog is
   drained once with ``availableNow`` through
   ``streaming.streaming_kalman_1d``. Each operation is timed on its own,
   and ``pass_s`` (``cpu_s``) is the sum over the operations of each one's
   median wall time (process-tree CPU) over the rounds, so a slow round,
   whether from the JIT still settling or from a burst of load on the
   host, moves an operation's median only if it hits most rounds;
4. compares the kept outputs with the DuckDB twins (or, for queries without
   one, checks schema and row count) and the streamed Kalman estimates with
   a sequential replay, outside timing;
5. prints one JSON line: the end-to-end metrics (``--trace 0``) or the
   per-layer metrics (``--trace 1``). A traced run also writes its spans to
   ``.fdibench_traces/<run id>.jsonl``.

Timing wraps only the public calls (registry callables, ``streaming``
functions, the sink); the library is used as a user would use it.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from datetime import datetime

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import layers  # noqa: E402
import proctree  # noqa: E402
import workloads as wl  # noqa: E402

# A run takes 60-70 s on 4 vCPUs, near the longest a run may take when every
# workload runs 22 times in the benchmark's time budget; faster hosts fit
# more rounds into --seconds.
RUN_LIMIT_S = 150.0  # start no round that could end past this


def log(msg: str) -> None:
    print(f"fdibench: {msg}", file=sys.stderr, flush=True)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _error(e: Exception) -> str:
    return f"{type(e).__name__}: {str(e)[:300]}"


class Run:
    """One benchmark run: inputs, session, passes, checks."""

    def __init__(self, args, root: str):
        self.args = args
        self.spec = wl.WORKLOADS[args.workload]
        self.root = root
        self.data_dir = os.path.join(root, "data")
        self.backlog_dir = os.path.join(root, "backlog")
        self.run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
        self.tracer = layers.Tracer(self.run_id, bool(args.trace))
        self.attempted = 0
        self.failures: list[str] = []
        self.outputs: dict[str, object] = {}  # kept by the cold pass
        self.n_drains = 0
        self.spark = None

    def make_inputs(self) -> None:
        import inputs

        rows = inputs.write_tables(self.data_dir, self.args.seed, self.spec["tables"])
        log(f"input rows {rows}")
        if self.spec["stream"]:
            self.backlog = wl.write_backlog(self.data_dir, self.backlog_dir)

    # ------------------------------------------------------------- passes
    def run_query(self, name: str, mode: str, acc: dict) -> None:
        """One registry query: ``noop`` writes to the noop sink, ``keep``
        collects the rows for the checks, ``traced`` splits build, plan and
        execute and reads their counters into ``acc``."""
        from fdi_flow_spark.plans.registry import QUERIES

        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span("query", query=name) as span:
                if mode == "traced":
                    span.update(self.traced_query(name, acc))
                else:
                    df = QUERIES[name](self.spark, self.data_dir)
                    if mode == "keep":
                        self.outputs[name] = (df.schema.simpleString(), df.columns,
                                              [tuple(r) for r in df.collect()])
                    else:
                        df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # a failed operation is counted, not fatal
            self.failures.append(f"{name}: {_error(e)}")
        if mode == "traced":
            key = f"{wl.QUERY_MODULE[name]}_s"
            acc[key] = acc.get(key, 0.0) + time.perf_counter() - t0

    def traced_query(self, name: str, acc: dict) -> dict:
        """Adds the query's layer readings to ``acc`` and returns them."""
        from fdi_flow_spark.plans.registry import QUERIES

        ledger = self.ledger
        m0 = ledger.mark()
        with self.tracer.span("build"):
            t = time.perf_counter()
            df = QUERIES[name](self.spark, self.data_dir)
            build_s = time.perf_counter() - t
        m1 = ledger.mark()
        rdds, mb = ledger.persisted()
        with self.tracer.span("plan"):
            t = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            plan_s = time.perf_counter() - t
        m2 = ledger.mark()
        with self.tracer.span("execute"):
            t = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            exec_s = time.perf_counter() - t
        m3 = ledger.mark()
        b = ledger.jobs_between(m0, m1)
        e = ledger.jobs_between(m2, m3)
        add = {
            "plans.registry.build_s": build_s,
            "plans.registry.build_jobs": b["jobs"],
            "sources.tables.schema_jobs": b["schema_jobs"],
            "core.checkpoints.checkpoint_jobs": b["checkpoint_jobs"],
            "plans.registry.broadcast_jobs": b["broadcast_jobs"],
            "plans.registry.collect_jobs": b["collect_jobs"],
            "core.checkpoints.persisted_rdds": rdds,
            "core.checkpoints.persisted_mb": mb,
            "plans.optimize_s": plan_s,
            "execute.s": exec_s,
        }
        add.update({f"plans.{k}": v for k, v in ledger.plans_between(m2, m3).items()})
        for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                  "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "input_mb"):
            add[f"execute.{k}"] = e[k]
        for k, v in add.items():
            acc[k] = acc.get(k, 0) + v
        return add

    def drain(self, mode: str, acc: dict) -> None:
        """One availableNow drain of the backlog through the Kalman stream,
        with a fresh checkpoint: into the noop sink, or (``keep``) into a
        memory sink whose rows are kept for the checks."""
        import fdi_flow_spark.streaming as streaming

        self.attempted += 1
        self.n_drains += 1
        name = f"fdibench_kalman_{self.n_drains}"
        try:
            with self.tracer.span("drain"):
                src = self.spark.readStream.schema(wl.STREAM_SCHEMA).parquet(self.backlog_dir)
                writer = streaming.streaming_kalman_1d(
                    src, q=wl.KALMAN_Q, r=wl.KALMAN_R).writeStream.outputMode(
                    "append").option("checkpointLocation",
                                     os.path.join(self.root, f"ckpt-{self.n_drains}"))
                writer = (writer.format("memory").queryName(name) if mode == "keep"
                          else writer.format("noop"))
                query = writer.trigger(availableNow=True).start()
                query.awaitTermination()
                recs = layers.progress_records(query)
                for r in recs:
                    start = datetime.fromisoformat(r["timestamp"]).timestamp()
                    self.tracer.add("trigger", start,
                                    start + r["durationMs"]["triggerExecution"] / 1e3,
                                    batch=r["batchId"])
            if len(recs) != 1:
                raise RuntimeError(f"{len(recs)} non-empty triggers, expected 1")
            if mode == "keep":
                self.outputs["stream"] = self.spark.table(name).toPandas()
        except Exception as e:
            self.failures.append(f"drain: {_error(e)}")
            return
        if mode == "traced":
            for r in recs:
                for k, v in layers.progress_layers(r).items():
                    acc[k] = acc.get(k, 0.0) + v
            acc["streaming.triggers"] = acc.get("streaming.triggers", 0) + len(recs)

    @staticmethod
    def timed(fn, *args) -> dict:
        """Runs ``fn(*args)``; returns its wall time and the process tree's
        CPU seconds by role."""
        cpu0 = proctree.cpu_by_role(proctree.snapshot())
        t0 = time.perf_counter()
        fn(*args)
        wall = time.perf_counter() - t0
        return {"wall": wall,
                "cpu": proctree.cpu_delta(cpu0, proctree.cpu_by_role(proctree.snapshot()))}

    def one_pass(self, mode: str, queries: bool = True, stream: bool = False) -> dict:
        """The query mix and/or the drain, each operation timed on its own.
        Returns the operations' wall and CPU and (traced) layer totals."""
        acc: dict = {}
        ops: dict = {}
        with self.tracer.span("pass", mode=mode):
            for q in self.spec["queries"] if queries else ():
                ops[q] = self.timed(self.run_query, q, mode, acc)
            if stream:
                ops["drain"] = self.timed(self.drain, mode, acc)
        log(f"{mode} pass {sum(o['wall'] for o in ops.values()):.2f} s, "
            f"cpu {sum(o['cpu']['total'] for o in ops.values()):.2f} s")
        return {"ops": ops, "layers": acc}

    # -------------------------------------------------------------- run
    def execute(self) -> dict:
        from fdi_flow_spark.core.session import get_spark

        t_run = time.perf_counter()
        self.make_inputs()
        # the sampler scans /proc on a thread, so only traced runs pay for it
        sampler = proctree.RssSampler() if self.args.trace else contextlib.nullcontext()
        with sampler as rss:
            t0 = time.perf_counter()
            with self.tracer.span("setup"):
                self.spark = get_spark(master=f"local[{len(os.sched_getaffinity(0))}]")
                start_s = time.perf_counter() - t0
                self.ledger = layers.SparkLedger(self.spark)
                self.one_pass("keep", stream=self.spec["stream"])
            setup_s = time.perf_counter() - t0

            passes, round_s = [], 0.0
            t_timed = time.perf_counter()
            mode = "traced" if self.args.trace else "noop"
            while len(passes) < self.spec["rounds"] or (
                time.perf_counter() - t_timed < self.args.seconds
                and time.perf_counter() - t_run + round_s < RUN_LIMIT_S
            ):
                t = time.perf_counter()
                passes.append(self.one_pass(mode))
                round_s = time.perf_counter() - t
            if self.spec["stream"]:
                passes.append(self.one_pass(mode, queries=False, stream=True))
        t_check = time.perf_counter()
        with self.tracer.span("check"):
            self.check()
        log(f"inputs {t0 - t_run:.2f} s, setup {setup_s:.2f} s (start {start_s:.2f} s), "
            f"timed {t_check - t_timed:.2f} s, checks {time.perf_counter() - t_check:.2f} s")
        return {"setup_s": setup_s, "start_s": start_s, "passes": passes,
                "peak_rss_mb": rss.peak_bytes / layers.MB if rss else None}

    # ------------------------------------------------------------ checks
    def check(self) -> None:
        import verify
        from fdi_flow_spark.plans.registry import ORACLES

        con = verify.duck(self.data_dir)
        for name in self.spec["queries"]:
            if name not in self.outputs:
                continue  # its run failed and is already counted
            self.attempted += 1
            schema, cols, rows = self.outputs[name]
            try:
                if name in wl.ROWS_ONLY:
                    err = verify.check_rows(con, *wl.ROWS_ONLY[name], schema, len(rows))
                else:
                    err = verify.check_oracle(con, ORACLES[name], cols, rows)
            except Exception as e:
                err = _error(e)
            if err:
                self.failures.append(f"check {name}: {err}")
        con.close()
        if "stream" in self.outputs:
            self.attempted += 1
            try:
                err = verify.check_kalman(self.outputs["stream"], wl.kalman_replay(self.backlog))
            except Exception as e:
                err = _error(e)
            if err:
                self.failures.append(f"check stream: {err}")

    def stop(self) -> None:
        """Stop Spark and the JVM, and wait until every child has exited."""
        if self.spark is not None:
            gateway = self.spark.sparkContext._gateway
            proc = getattr(gateway, "proc", None)
            self.spark.stop()
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        me = os.getpid()
        deadline = time.time() + 15
        while any(p.pid != me for p in proctree.snapshot()):
            if time.time() > deadline:
                for p in proctree.snapshot():
                    if p.pid != me:
                        try:
                            os.kill(p.pid, 9)
                        except ProcessLookupError:
                            pass
                break
            time.sleep(0.2)


def op_medians(passes: list[dict], value) -> float:
    """Sum over the operations of the median of ``value(op sample)`` over
    the passes that ran the operation."""
    samples: dict[str, list[float]] = {}
    for p in passes:
        for name, op in p["ops"].items():
            samples.setdefault(name, []).append(value(op))
    return sum(statistics.median(v) for v in samples.values())


def end_to_end(res: dict) -> dict[str, tuple[float, str]]:
    passes = res["passes"]
    return {
        "setup_s": (res["setup_s"], "s"),
        "pass_s": (op_medians(passes, lambda o: o["wall"]), "s"),
        "cpu_s": (op_medians(passes, lambda o: o["cpu"]["total"]), "s"),
    }


def unit_of(name: str) -> str:
    if name.endswith("_s") or name == "execute.s":
        return "s"
    if name.endswith("_mb"):
        return "MB"
    return "ms" if name.endswith("_ms") else "count"


def per_layer(res: dict) -> dict[str, tuple[float, str]]:
    passes = res["passes"]
    out = {
        "core.session.start_s": (res["start_s"], "s"),
        "core.warmup_s": (res["setup_s"] - res["start_s"], "s"),
        "trace.pass_s": (op_medians(passes, lambda o: o["wall"]), "s"),
        "proc.peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }
    for role in ("jvm", "pyworker", "driver"):
        out[f"proc.{role}_cpu_s"] = (op_medians(passes, lambda o: o["cpu"][role]), "s")
    # a layer reads the sum of a round's (or the drain's) operations; the
    # median is over the passes that touched it, and a layer the workload
    # never touches (another workload's module, the stream) reads 0
    keys = ({k for p in passes for k in p["layers"]} | {f"{m}_s" for m in wl.MODULES}
            | set(layers.STREAM_KEYS))
    for k in sorted(keys):
        vals = [p["layers"][k] for p in passes if k in p["layers"]]
        out[k] = (statistics.median(vals) if vals else 0.0, unit_of(k))
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    cwd = os.getcwd()
    if cwd not in sys.path:
        sys.path.insert(0, cwd)
    try:
        import fdi_flow_spark  # noqa: F401
    except ImportError as e:
        log(f"the engine is not importable from {cwd}: {e}")
        return 2
    root = os.path.join(cwd, ".fdibench_work", f"run-{os.getpid()}")
    spark_tmp = os.path.join(root, "tmp")
    os.makedirs(spark_tmp)
    # workers import the engine from the checkout; scratch stays inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [cwd] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = spark_tmp
    os.environ["TMPDIR"] = spark_tmp
    run = Run(args, root)
    try:
        res = run.execute()
    finally:
        run.stop()
        if run.tracer.enabled:
            trace_dir = os.path.join(cwd, ".fdibench_traces")
            os.makedirs(trace_dir, exist_ok=True)
            run.tracer.write(os.path.join(trace_dir, f"{run.run_id}.jsonl"))
        shutil.rmtree(root, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(root))
        except OSError:
            pass
    metrics = per_layer(res) if args.trace else end_to_end(res)
    failed = len(run.failures)
    for f in run.failures:
        log(f"FAILED {f}")
    print(f"workload={args.workload} seed={args.seed} trace={args.trace} "
          f"passes={len(res['passes'])} failed_share={failed / run.attempted:.4f} "
          + " ".join(f"{k}={v:.4f}{u}" for k, (v, u) in metrics.items()))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": run.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
