"""Unit tests for the benchmark's own accounting: process-tree CPU and
memory from /proc, plan-node counting, build-job classification and the
per-operation medians behind pass_s and cpu_s.
They need no Spark session:

    python -m pytest fdibench/tests -q
"""

import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import layers  # noqa: E402
import proctree  # noqa: E402


def test_parse_stat_handles_spaces_and_parens_in_comm():
    fields = ["S", "41"] + ["0"] * 9 + ["250", "50", "30", "20"] + ["0"] * 20
    line = "1234 (odd (name) x) " + " ".join(fields)
    pid, comm, ppid, cpu, reaped = proctree.parse_stat(line)
    assert (pid, comm, ppid) == (1234, "odd (name) x", 41)
    assert cpu == (250 + 50) / proctree.CLK_TCK
    assert reaped == (30 + 20) / proctree.CLK_TCK


def test_descendants_follow_parent_chains_only():
    parents = {1: 0, 10: 1, 11: 10, 12: 11, 20: 1, 21: 20, 30: 12}
    assert proctree.descendants(10, parents) == {10, 11, 12, 30}
    assert proctree.descendants(20, parents) == {20, 21}
    assert proctree.descendants(99, parents) == {99}


def test_cpu_by_role_counts_reaped_children_under_their_parent():
    P = proctree.Proc
    procs = [
        P(100, 1, "python3", 1.0, 0.5, 0),   # the driver
        P(200, 100, "java", 10.0, 0.25, 0),  # the JVM, reaped its launcher
        P(300, 200, "python3", 2.0, 3.0, 0),  # worker daemon, reaped workers
        P(301, 300, "python3", 0.5, 0.0, 0),  # a live worker
        P(400, 100, "sh", 0.125, 0.0, 0),
    ]
    got = proctree.cpu_by_role(procs, root=100)
    assert got == {"driver": 1.5, "jvm": 10.25, "pyworker": 5.5, "other": 0.125}
    delta = proctree.cpu_delta({"driver": 1.0, "jvm": 9.0, "pyworker": 5.5, "other": 0.0}, got)
    assert delta["total"] == 0.5 + 1.25 + 0.0 + 0.125


def _burn(seconds: float) -> subprocess.Popen:
    code = f"import time\nt = time.process_time()\nwhile time.process_time() - t < {seconds}: pass"
    return subprocess.Popen([sys.executable, "-c", code])


def test_live_child_is_in_the_tree_and_its_cpu_survives_reaping():
    before = proctree.cpu_by_role(proctree.snapshot())
    child = _burn(0.3)
    time.sleep(0.05)
    assert child.pid in {p.pid for p in proctree.snapshot()}
    child.wait()  # reaped: its time moves into this process's cutime
    assert child.pid not in {p.pid for p in proctree.snapshot()}
    delta = proctree.cpu_delta(before, proctree.cpu_by_role(proctree.snapshot()))
    assert delta["driver"] >= 0.25


def test_rss_sampler_peak_covers_a_short_lived_child():
    with proctree.RssSampler(interval_s=0.02) as rss:
        alone = rss.sample()
        child = subprocess.Popen([sys.executable, "-c",
                                  "b = bytearray(64 << 20); import time; time.sleep(0.5)"])
        time.sleep(0.3)
        child.wait()
    assert rss.peak_bytes >= alone + (48 << 20)


FORMATTED_PLAN = """== Physical Plan ==
OverwriteByExpression (20)
+- AdaptiveSparkPlan (19)
   +- == Final Plan ==
      ResultQueryStage (12)
      +- * Project (11)
         +- * BroadcastHashJoin Inner BuildLeft (10)
            :- BroadcastQueryStage (5)
            :  +- BroadcastExchange (4)
            :     +- FlatMapGroupsInPandas (3)
            :        +- AQEShuffleRead (2)
            :           +- ShuffleQueryStage (1)
            :              +- Exchange (0)
            +- * SortMergeJoin Inner (9)
               :- ArrowEvalPython (8)
               +- Exchange (7)
   +- == Initial Plan ==
      Project (18)
      +- SortMergeJoin Inner (17)
         :- Exchange (16)
         +- Exchange (15)

(0) Exchange
Input [2]: [a, b]
"""


def test_plan_counts_read_the_final_plan_only():
    assert layers.plan_counts(FORMATTED_PLAN) == {
        "exchanges": 2,
        "smj": 1,
        "broadcast_joins": 1,
        "python_nodes": 2,
    }


def test_job_kind_by_call_site():
    assert layers.job_kind("parquet at NativeMethodAccessorImpl.java:0") == "schema"
    assert layers.job_kind("localCheckpoint at NativeMethodAccessorImpl.java:0") == "checkpoint"
    assert layers.job_kind(
        "$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768") == "broadcast"
    assert layers.job_kind("collectToPython at NativeMethodAccessorImpl.java:0") == "collect"
    assert layers.job_kind("save at NativeMethodAccessorImpl.java:0") == "other"


def test_tracer_nests_spans_and_is_silent_when_off():
    tr = layers.Tracer("r1", enabled=True)
    with tr.span("pass"):
        with tr.span("query", query="q"):
            pass
        tr.add("trigger", 1.0, 2.0)
    assert [(s["name"], s["parent"], s["run"]) for s in tr.spans] == [
        ("pass", None, "r1"), ("query", 0, "r1"), ("trigger", 0, "r1")]
    assert all(s["end"] >= s["start"] for s in tr.spans)
    off = layers.Tracer("r2", enabled=False)
    with off.span("pass"):
        off.add("trigger", 1.0, 2.0)
    assert off.spans == []


def test_op_medians_sum_each_operations_median_over_the_passes_that_ran_it():
    import run

    def op(wall):
        return {"wall": wall}

    passes = [
        {"ops": {"a": op(9.0), "b": op(1.0)}},  # a slow first round
        {"ops": {"a": op(2.0), "b": op(1.5)}},
        {"ops": {"a": op(3.0), "b": op(5.0)}},  # a burst in b only
        {"ops": {"drain": op(4.0)}},  # an operation timed once
    ]
    assert run.op_medians(passes, lambda o: o["wall"]) == 3.0 + 1.5 + 4.0
