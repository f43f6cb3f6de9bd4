"""Benchmark for the sfa_spark engine: seeded closed-loop workloads.

Usage, from the root of a checkout of the repository:

    python3 perfbench/run.py --workload sfa_classify --seed 7 --seconds 30 --trace 0

One run: generate the seeded input tables (untimed), start a Spark
session on local[<cpus>], warm it up, then run the workload's query list
once as one client issuing one query at a time. Each query starts with
an empty cache and is timed from its ``q_*`` call until the full result
is on the driver (``toPandas()``). After the session has stopped, every
result is compared with the query's DuckDB oracle on the same parquet
files (untimed). A query fails if it is missing from the registry,
raises, has no oracle, or disagrees with its oracle.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones (``setup_s``, ``workload_s``); with
``--trace 1`` they are the per-layer ones, measured by the same pass
run traced (see tracing.py). ``trace.overhead_frac`` is the time the
tracing hooks themselves took inside the pass over the rest of the
pass: a second pass in the same session runs 30-50% faster than the
first (JIT and worker warm-up), so a pass-against-pass ratio would
measure warm-up rather than tracing.

``--seconds`` is the nominal length of the measured region: one pass of
the query list, which always runs to completion so that runs stay
comparable. A full record of each run (load average before and after,
CPU count and calibration, per-query times and verdicts, per-layer
numbers and spans) is written to
``.perfbench_runs/artifacts/<workload>-seed<seed>-trace<t>-<pid>.json``;
everything else the run writes lives in its own directory under
``.perfbench_runs`` and is deleted when the run ends.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import tracing  # noqa: E402

# Why these two workloads: sfa_classify is the paper's pipeline (events
# -> SFA words -> bags -> BOSS 1-NN and a WEASEL fit); its time is in
# operators (bags, kNN), Python workers (functions) and the driver-side
# ml fit, and it never starts a stream or builds an index.
# search_and_maintain is the index / dedup / write path: the SFA trie
# index build and k-NN (plans), the MinHash-LSH self-join (operators
# shuffle), the streaming SCD2 sink (streaming) and a batch MERGE over
# orders (sources); it runs no ml fit. A change to one layer is thus
# exercised by one workload and bypassed by the other.
WORKLOADS = {
    "sfa_classify": ["q_bag_topk", "q_boss_1nn", "q_weasel_predict"],
    "search_and_maintain": [
        "q_index_knn", "q_lsh_pairs", "q_stream_scd2", "q_merge_changes",
    ],
}
SCALE = 0.1          # sf0.1-shaped inputs: 100k events, 1,500 series
WARM_SCALE = 0.001   # the set-up's warm-up query runs on a toy copy
WARMUP_QUERY = "q_bag_topk"
DRIVER_MEM = "4g"


def metric_units(root: str, trace: int) -> dict[str, str]:
    """Names and units of the metrics a run reports, as BENCHMARK.json
    at the checkout root lists them."""
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--scale", type=float, default=SCALE,
        help="input scale factor (the self-test runs a toy scale)",
    )
    return ap.parse_args(argv)


def check_program(root: str) -> None:
    """Refuse to run outside a checkout of the engine."""
    need = ["__spark_entry__.py", "bench.py", "sfa_spark", "tools/check_oracle.py"]
    missing = [p for p in need if not os.path.exists(os.path.join(root, p))]
    if missing:
        print(
            f"perfbench: not a checkout of the engine, missing {missing}",
            file=sys.stderr,
        )
        sys.exit(2)


class Run:
    """One benchmark run: its directories, session and measurements."""

    def __init__(self, args, root: str):
        self.args = args
        base = os.path.join(root, ".perfbench_runs")
        self.artifacts = os.path.join(base, "artifacts")
        os.makedirs(self.artifacts, exist_ok=True)
        tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
        self.tag = tag
        self.dir = os.path.join(base, tag)
        shutil.rmtree(self.dir, ignore_errors=True)
        self.tmp = os.path.join(self.dir, "tmp")        # Python tempfile
        self.jtmp = os.path.join(self.dir, "jvm-tmp")   # java.io.tmpdir
        self.local = os.path.join(self.dir, "spark-local")
        for d in (self.tmp, self.jtmp, self.local):
            os.makedirs(d)
        self.spark = None
        self.record: dict = {
            "workload": args.workload, "seed": args.seed,
            "trace": args.trace, "seconds": args.seconds, "scale": args.scale,
        }

    # ---------------------------------------------------------- environment

    def isolate(self) -> None:
        """Point every temp dir of the engine, the JVM and the Python
        workers into the run's own directory."""
        cpus = len(os.sched_getaffinity(0))
        os.environ["TMPDIR"] = self.tmp
        tempfile.tempdir = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.local
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        self.record.update(cpus=cpus, driver_mem=DRIVER_MEM)

    def start_session(self):
        from sfa_spark.session import get_spark

        self.spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.jtmp}",
            },
        )
        return self.spark

    def stop_session(self) -> None:
        """Stop Spark and wait for the JVM (and with it the Python
        workers) to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        self._reap_children()

    @staticmethod
    def _reap_children(timeout: float = 30.0) -> None:
        deadline = time.time() + timeout
        while tracing.descendants(os.getpid()) and time.time() < deadline:
            time.sleep(0.2)
        left = tracing.descendants(os.getpid())
        if left:
            raise RuntimeError(f"child processes still running: {left}")

    def cleanup(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)

    # ---------------------------------------------------------- phases

    def generate(self) -> tuple[str, str]:
        data = os.path.join(self.dir, "data")
        warm = os.path.join(self.dir, "warm")
        t0 = time.perf_counter()
        self.record["rows"] = gen.generate(data, self.args.seed, self.args.scale)
        gen.generate(warm, self.args.seed, min(WARM_SCALE, self.args.scale))
        self.record["generate_s"] = time.perf_counter() - t0
        return data, warm


def run_pass(spark, qs, names, data, tracer=None):
    """Run the query list once, closed loop. Returns one record per
    query: wall/build/exec seconds, the collected result or the error,
    and (traced) job counts and plan metrics."""
    out = []
    for name in names:
        rec = {"query": name}
        out.append(rec)
        fn = qs.get(name)
        if fn is None:
            rec["error"] = "missing from __spark_entry__.queries()"
            log(f"{name}: {rec['error']}")
            continue
        spark.catalog.clearCache()
        if tracer is not None:
            tracer.begin(name)
        try:
            t0 = time.perf_counter()
            with tracer.span(name, "build") if tracer else contextlib.nullcontext():
                df = fn(spark, data)
            t1 = time.perf_counter()
            if tracer is not None:
                tracer.mark_exec()
            with tracer.span(name, "exec") if tracer else contextlib.nullcontext():
                pdf = df.toPandas()
            t2 = time.perf_counter()
        except Exception as exc:  # noqa: BLE001 - a failing query is a result
            rec["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
            log(f"{name}: FAILED {rec['error']}")
            if tracer is not None:
                tracer.end(None)
            continue
        rec.update(wall_s=t2 - t0, build_s=t1 - t0, exec_s=t2 - t1,
                   rows=len(pdf), result=pdf)
        if tracer is not None:
            rec.update(tracer.end(df))
        log(f"{name}: {rec['wall_s']:.3f}s (build {rec['build_s']:.3f}s,"
            f" exec {rec['exec_s']:.3f}s, {rec['rows']} rows)")
    return out


class Tracer:
    """Glue between a pass and tracing.py: spans, job and stage counts,
    plan metrics, streaming progress and temp-dir growth per query."""

    def __init__(self, spark, temp_dirs):
        self.spark = spark
        self.temp_dirs = temp_dirs
        self.counters = tracing.job_counters(spark)
        self.spans = tracing.Spans(self.counters)
        self.listener = tracing.stream_listener(spark)
        self.t0 = time.perf_counter()
        self._own_s = 0.0

    def span(self, name: str, phase: str):
        return self.spans.span(f"queries.{name}.{phase}", "queries")

    def begin(self, name: str) -> None:
        self.spans.query = self.listener.query = name
        self._files0 = tracing.dir_usage(*self.temp_dirs)
        self._c0 = self.counters()

    def mark_exec(self) -> None:
        t = time.perf_counter()
        self._c1 = self.counters()
        self._own_s += time.perf_counter() - t

    def hook_s(self, sampler) -> float:
        """Time the tracing itself has taken so far: span bookkeeping,
        listener callbacks, counter reads inside timed regions and
        memory sampling."""
        return self._own_s + self.spans.hook_s + self.listener.hook_s + sampler.busy_s

    def stop(self) -> None:
        """Deliver pending listener events, then remove the listener and
        every wrapper."""
        tracing.flush_listeners(self.spark)
        self.spark.streams.removeListener(self.listener)
        self.spans.uninstall()

    def end(self, df) -> dict:
        c2 = self.counters()
        self.spans.query = self.listener.query = "idle"
        if df is None:
            return {}
        tracing.flush_listeners(self.spark)
        plan = tracing.plan_metrics(self.spark, df)
        files = tracing.dir_usage(*self.temp_dirs)
        return {
            "build_jobs": self._c1[0] - self._c0[0],
            "exec_jobs": c2[0] - self._c1[0],
            "exec_stages": c2[1] - self._c1[1],
            "plan": plan,
            "files_written": files[0] - self._files0[0],
            "bytes_written": files[1] - self._files0[1],
        }


def layer_metrics(tracer, results, session, rss_peak_mb) -> dict:
    """Per-layer metrics of a traced pass (trace.overhead_frac is set
    by the caller)."""
    ok = [r for r in results if "wall_s" in r]
    names = {r["query"] for r in ok}

    def total(key):
        return sum(r[key] for r in ok)

    def span_s(spans):
        return sum(s[3] - s[2] for s in spans)

    ml = tracer.spans.outermost("ml", names)
    batches = [b for b in tracer.listener.batches if b["query"] in names]
    streamed = [r for r in ok if r["query"] in {b["query"] for b in batches}]
    stream_jobs = tracing.stream_jobs(tracer.spark, {b["run_id"] for b in batches})
    m = {k: sum(r["plan"][k] for r in ok) for k in tracing.PLAN_KEYS}
    m.update({
        "session.start_s": session["start_s"],
        "session.warmup_s": session["warmup_s"],
        "session.rss_peak_mb": rss_peak_mb,
        "queries.build_s": total("build_s"),
        "queries.build_jobs": total("build_jobs"),
        "queries.exec_s": total("exec_s"),
        "queries.exec_jobs": total("exec_jobs"),
        "queries.exec_stages": total("exec_stages"),
        "sources.rows_read_per_result_row":
            m["sources.scan_rows"] / max(1, total("rows")),
        "ml.fit_s": span_s(ml),
        "ml.fit_jobs": sum(s[6] or 0 for s in ml),
        "plans.index_s": span_s(tracer.spans.outermost("plans", names)),
        "streaming.batches": len(batches),
        "streaming.batch_s": sum(b["duration_ms"].get("triggerExecution", 0) for b in batches) / 1e3,
        "streaming.add_batch_s": sum(b["duration_ms"].get("addBatch", 0) for b in batches) / 1e3,
        "streaming.jobs_per_batch": stream_jobs / len(batches) if batches else 0.0,
        "streaming.input_rows": sum(b["input_rows"] for b in batches),
        "streaming.files_written": sum(r["files_written"] for r in streamed),
        "streaming.bytes_written": sum(r["bytes_written"] for r in streamed),
    })
    return m


def check_results(data: str, results, duck_dir: str) -> None:
    """Compare every collected result with its DuckDB oracle on the
    same parquet files; stores the verdict on each record."""
    import duckdb

    import __spark_entry__ as E
    from tools.check_oracle import compare

    oracles = E.oracle_sql()
    con = duckdb.connect()
    try:
        con.execute("SET memory_limit='2GB'")
        con.execute(f"SET temp_directory='{duck_dir}'")
        for t in gen.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data, t)}.parquet'"
            )
        for r in results:
            name = r["query"]
            if "result" not in r:
                r["verdict"] = f"ERROR {r.get('error')}"
            elif name not in oracles:
                r["verdict"] = "NO-ORACLE"
            else:
                t0 = time.perf_counter()
                try:
                    expected = con.execute(oracles[name]).fetchdf()
                except duckdb.Error as exc:
                    r["verdict"] = f"DUCK-ERROR {type(exc).__name__}: {str(exc)[:200]}"
                else:
                    r["verdict"] = compare(r["result"], expected)
                r["oracle_s"] = time.perf_counter() - t0
            log(f"{name}: {r['verdict']}")
    finally:
        con.close()


def passed(rec) -> bool:
    return rec.get("verdict", "").startswith("OK")


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    check_program(root)
    units = metric_units(root, args.trace)
    sys.path.insert(0, root)

    from bench import _cpu_calibration

    run = Run(args, root)
    names = WORKLOADS[args.workload]
    rec = run.record
    try:
        run.isolate()
        rec.update(_cpu_calibration())
        rec["loadavg_before"] = list(os.getloadavg())
        data, warm = run.generate()

        sampler = tracing.RssSampler() if args.trace else contextlib.nullcontext()
        with sampler:
            t0 = time.perf_counter()
            spark = run.start_session()
            t1 = time.perf_counter()
            tracer = None
            if args.trace:
                tracer = Tracer(spark, [run.tmp, run.jtmp])
                rec["wrapped_callables"] = tracer.spans.install()
            t2 = time.perf_counter()
            import __spark_entry__ as E

            qs = E.queries()
            t3 = time.perf_counter()
            qs[WARMUP_QUERY](spark, warm).toPandas()
            spark.catalog.clearCache()
            t4 = time.perf_counter()
            session = {
                "start_s": t1 - t0, "registry_s": t3 - t2, "warmup_s": t4 - t3,
                "setup_s": (t1 - t0) + (t4 - t2),
            }
            rec["session"] = session
            log(f"setup {session['setup_s']:.3f}s (start {session['start_s']:.3f}s,"
                f" registry {session['registry_s']:.3f}s, warm-up {session['warmup_s']:.3f}s)")
            hooks0 = tracer.hook_s(sampler) if tracer else 0.0
            results = run_pass(spark, qs, names, data, tracer)
            hooks = tracer.hook_s(sampler) - hooks0 if tracer else 0.0
        if args.trace:
            metrics = layer_metrics(tracer, results, session, sampler.peak_mb)
            tracer.stop()
            work_s = sum(r.get("wall_s", 0.0) for r in results)
            metrics["trace.overhead_frac"] = hooks / max(work_s - hooks, 1e-9)
            rec["trace_hook_s"] = hooks
            rec["layer_self_s"] = tracer.spans.self_time({r["query"] for r in results})
            rec["stream_batches"] = tracer.listener.batches
            rec["spans"] = tracer.spans.dump(tracer.t0)
        else:
            metrics = {
                "setup_s": session["setup_s"],
                "workload_s": sum(r.get("wall_s", 0.0) for r in results),
            }
        run.stop_session()
        rec["loadavg_after"] = list(os.getloadavg())

        duck = os.path.join(run.dir, "duck")
        os.makedirs(duck)
        check_results(data, results, duck)

        attempted = len(results)
        failed = sum(1 for r in results if not passed(r))
        out = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }
        rec["queries"] = [
            {k: v for k, v in r.items() if k != "result"} for r in results
        ]
        if args.trace:
            rec["per_query"] = {
                f"queries.{r['query']}.{k}": r[k]
                for r in results for k in ("wall_s", "build_s") if k in r
            }
        rec["result"] = out
        path = os.path.join(run.artifacts, f"{run.tag}.json")
        with open(path, "w") as fh:
            json.dump(rec, fh, indent=1, default=str)
        log(f"artifact {os.path.relpath(path, root)}")
        print(json.dumps(out))
        return 0
    finally:
        try:
            run.stop_session()
        finally:
            run.cleanup()


if __name__ == "__main__":
    sys.exit(main())
