"""One benchmark run in a fresh process: set-up, timed passes, metrics.

Started by ``run.py`` with its own TMPDIR, SPARK_LOCAL_DIRS and working
directory, so no materialize cache or store of an earlier run can turn
a set-up miss into a hit. Writes one JSON document to ``--out``.

Set-up (untimed, inside ``setup_s``): imports, the session, one
correctness pass that compares each op's result with its DuckDB twin
(``suite.ORACLES`` through ``verify.compare_frames``; the first call
of a serving op also builds the store export it reads), then the
workload's ``warm_passes`` whole passes. Timed passes then run until
``--seconds`` have passed, at least ``MIN_TIMED_PASSES`` of them; in a
traced run span recording is on in half of them.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import procstats  # noqa: E402
import workloads  # noqa: E402

MIN_TIMED_PASSES = 3


class PhaseListener:
    """Catalyst phase times of every QueryExecution that runs an action
    (a py4j implementation of Spark's QueryExecutionListener)."""

    def __init__(self, jvm) -> None:
        self.jvm = jvm
        self.records: list[tuple[float, int, dict[str, float]]] = []

    def onSuccess(self, funcName, qe, durationNs):  # noqa: N802 (Java interface)
        start, phases = phase_times(qe)
        if start is not None:
            self.records.append((start, self.jvm.System.identityHashCode(qe), phases))

    def onFailure(self, funcName, qe, exception):  # noqa: N802
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def phase_times(qe) -> tuple[float | None, dict[str, float]]:
    """(start s, {phase: ms}) of a QueryExecution's tracked phases."""
    tracked = qe.tracker().phases()
    out, start = {}, None
    for name in ("analysis", "optimization", "planning"):
        summary = tracked.get(name)
        if summary.isDefined():
            summary = summary.get()
            out[name] = float(summary.durationMs())
            start = summary.startTimeMs() / 1000 if start is None else start
    return start, out


def _duckdb(data_dir: str, tmp: str):
    """The oracle connection; unlike ``verify.duckdb_connection`` it
    spills inside the run directory, not /tmp."""
    import duckdb

    from patientdataintegration_spark.verify import TABLES

    con = duckdb.connect()
    con.execute(f"SET temp_directory='{tmp}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--t-spawn", type=float, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()

    sys.path.insert(0, ROOT)
    from patientdataintegration_spark.session import build_session

    ops = workloads.ops(a.workload)
    rng = random.Random(a.seed)
    event_dir = os.path.join(a.run_dir, "eventlog")
    conf = {"spark.ui.showConsoleProgress": "false"}
    if a.trace:
        os.makedirs(event_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_dir,
                # the Python environment has no zstd module
                "spark.eventLog.compress": "false",
            }
        )
    spark = build_session(f"pdibench-{a.workload}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    tracer = None
    if a.trace:
        import spans

        # after the session (some layer modules declare pandas UDFs with
        # DDL return types at import), before the suite
        tracer = spans.Tracer()
        tracer.install()
    from patientdataintegration_spark.suite import ORACLES, QUERIES
    from patientdataintegration_spark.verify import compare_frames

    jvm_pid = spark.sparkContext._gateway.proc.pid
    me = os.getpid()
    listener = None
    if a.trace:
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        listener = PhaseListener(spark._jvm)
        spark._jsparkSession.listenerManager().register(listener)
    t_session = time.time()

    # -- correctness pass: each op's result against its DuckDB twin
    mismatched: dict[str, list[str]] = {}
    con = _duckdb(a.data, os.environ["TMPDIR"])
    check_s = {}
    for op in rng.sample(ops, len(ops)):
        t0 = time.time()
        try:
            problems = compare_frames(
                QUERIES[op](spark, a.data).toPandas(), con.execute(ORACLES[op]).fetchdf()
            )
        except Exception as e:  # noqa: BLE001 — a failing op is a measured outcome
            problems = [f"raised {type(e).__name__}: {e}"[:300]]
        check_s[op] = time.time() - t0
        if problems:
            mismatched[op] = problems[:3]
    con.close()

    def run_pass() -> dict:
        order = rng.sample(ops, len(ops))
        c0 = procstats.cpu_sample(me, jvm_pid)
        io0 = procstats.io_sample(jvm_pid)
        samples = []
        p0 = time.time()
        for op in order:
            t0 = time.time()
            ok = op not in mismatched
            t1 = t0
            df = None
            try:
                df = QUERIES[op](spark, a.data)
                t1 = time.time()
                df.write.format("noop").mode("overwrite").save()
            except Exception:  # noqa: BLE001
                ok = False
            t2 = time.time()
            sample = {"op": op, "t0": t0, "t1": t1, "t2": t2, "ok": ok}
            if listener is not None and df is not None:
                # the op's own plan is analysed while it is built; the noop
                # write's command re-uses that analysed plan
                qe = df._jdf.queryExecution()
                sample["qe"] = spark._jvm.System.identityHashCode(qe)
                sample["phases"] = phase_times(qe)[1]
            samples.append(sample)
        p1 = time.time()
        c1 = procstats.cpu_sample(me, jvm_pid)
        io1 = procstats.io_sample(jvm_pid)
        return {
            "t0": p0,
            "t1": p1,
            "wall": p1 - p0,
            "cpu": procstats.cpu_delta(c0, c1),
            "io": {k: io1[k] - io0[k] for k in io0},
            "samples": samples,
        }

    warm = [run_pass() for _ in range(workloads.WORKLOADS[a.workload]["warm_passes"])]
    if tracer is not None:
        tracer.set_root_thread()
    timed = []
    t_first = time.time()
    while len(timed) < MIN_TIMED_PASSES or time.time() - t_first < a.seconds:
        if tracer is not None:
            # spans off, on, on, off, ...: the traced and untraced passes
            # see the same warm-up trend, so their ratio is the overhead
            tracer.enabled = len(timed) % 4 in (1, 2)
        p = run_pass()
        p["traced"] = bool(tracer and tracer.enabled)
        timed.append(p)
    if tracer is not None:
        tracer.enabled = False
    rss_mb = procstats.rss_peak_mb(jvm_pid)

    if listener is not None:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    spark.stop()

    out = {
        "workload": a.workload,
        "seed": a.seed,
        "ops": ops,
        "t_spawn": a.t_spawn,
        "t_session": t_session,
        "t_first_timed": t_first,
        "check_s": check_s,
        "mismatched": mismatched,
        "warm": [{k: p[k] for k in ("wall", "cpu")} for p in warm],
        "timed": timed,
        "jvm_rss_peak_mb": rss_mb,
        "nproc": os.cpu_count(),
    }
    if a.trace:
        import eventlog
        import spans

        log = eventlog.read_event_log(event_dir)
        for p in timed:
            layer = eventlog.ledger(log, p["t0"], p["t1"])
            layer["streaming.batch_p50_ms"] = eventlog.median_or_zero(
                eventlog.batch_ms(log, p["t0"], p["t1"])
            )
            if p["traced"]:
                layer.update(spans.layer_stats(tracer.spans, p["t0"], p["t1"]))
            cat = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
            for s in p["samples"]:
                s["ledger"] = eventlog.ledger(log, s["t0"], s["t2"])
                # the op's own plan, plus every action it ran: eager ones
                # while it was built and the noop write
                found = [s.get("phases", {})]
                found += [
                    phases
                    for start, qe, phases in listener.records
                    if s["t0"] <= start < s["t2"] and qe != s.get("qe")
                ]
                for phases in found:
                    for k, v in phases.items():
                        cat[k] += v
            layer["catalyst.analysis_ms"] = cat["analysis"]
            layer["catalyst.optimizer_ms"] = cat["optimization"]
            layer["catalyst.planning_ms"] = cat["planning"]
            p["layer"] = layer
        out["spans_wrapped"] = tracer.wrapped
    with open(a.out, "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
