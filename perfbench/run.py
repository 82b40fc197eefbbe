"""Crawl-frontier benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload bulk_crawl --seed 1 --seconds 20 --trace 0

Run from the repository root. Prints a human-readable report, then as the
last stdout line one JSON object: {"correct", "attempted", "failed",
"metrics"}. `--trace 0` reports the end-to-end metrics, `--trace 1` the
per-layer metrics of a traced run (see tracing.py for the attribution
rule). Exits non-zero when any timed operation raised or produced output
that differs from the ground truth. Everything it writes stays under
`.perfbench_work/` (removed at exit) and `.perfbench_out/` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import procstat  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

WORKLOADS = {"bulk_crawl": workloads.run_bulk_crawl, "seen_probe": workloads.run_seen_probe}
PACKAGE = "gsccca_tax_records_scraper_spark"
DRIVER_MEMORY = "4g"


def _process_start_epoch() -> float:
    """Wall-clock start of this process (from /proc, 10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(") ", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def _spark_conf(work: str, event_log: str | None) -> dict[str, str]:
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        # keep get_spark's GC choice; keep JVM temp files in the work dir
        "spark.driver.extraJavaOptions": (
            f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={work}/jvm-tmp"
        ),
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _shutdown(spark) -> None:
    """Stop the session, then the JVM pyspark launched, and wait for the
    whole process tree (JVM, Python workers) to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while len(procstat.tree_pids(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _percentile_note(n: int) -> str:
    """Highest percentile with at least ten samples beyond it."""
    for p in (99.9, 99, 95, 90, 75, 50):
        if n * (1 - p / 100) >= 10:
            return f"p{p:g}"
    return "none (fewer than 20 samples)"


def end_to_end(res: workloads.Result, setup_s: float, rss_peak: int) -> dict:
    drains = [op for op in res.ops if op.kind == "drain" and op.ok]
    drain_s = sum(op.seconds for op in drains)
    return {
        "setup_s": (setup_s, "s"),
        "epoch_p50_s": (_median([op.seconds for op in drains]), "s"),
        "urls_per_s": (sum(op.urls for op in drains) / drain_s if drain_s else 0.0, "URLs/s"),
        "rss_peak_mb": (rss_peak / 2**20, "MiB"),
    }


def first_batch(res: workloads.Result) -> dict:
    """The cold first operations: measured and reported, but too sensitive
    to host CPU availability while the JVM compiles to carry a bound."""
    boots = [op.seconds for op in res.ops if op.kind == "bootstrap" and op.ok]
    return {
        "bootstrap_s": (_median(boots), "s"),
        "batch_s": (_median(res.batches_s), "s"),
    }


def _replay(urls: list[str]) -> dict:
    """Time the fetch/parse kernels in-process on the run's own URLs, in
    the order `_fetch_parse` applies them; also count the out-links the
    pages yield (the candidates their epoch hands to dedup)."""
    import pandas as pd

    from gsccca_tax_records_scraper_spark import sitegen
    from gsccca_tax_records_scraper_spark.functions import extract, urltools

    url_s = pd.Series(urls)
    doc_no = url_s.str.rsplit("id=", n=1).str[-1].astype("int64")
    t0 = time.perf_counter()
    pages = [sitegen.detail_page_no(n) for n in doc_no.to_numpy()]
    t1 = time.perf_counter()
    html = pd.Series([p[0] for p in pages])
    ocr = pd.Series([p[1] for p in pages])
    t2 = time.perf_counter()
    parsed = extract.parse_detail_frame(pd.DataFrame({"url": url_s, "html": html, "ocr_text": ocr}))
    t3 = time.perf_counter()
    links = urltools.extract_outlinks_frame(url_s, html.where(~parsed["cancelled"].values, ""))
    t4 = time.perf_counter()
    n = len(urls)
    return {
        "fetch": n / (t1 - t0), "parse": n / (t3 - t2), "outlinks": n / (t4 - t3),
        "links": int(sum(len(x) for x in links)),
    }


def per_layer(res, tracer: tracing.Tracer, cost, get_spark_s: float, host, e2e) -> dict:
    drains = [op for op in res.ops if op.kind == "drain" and op.ok]
    boots = [op for op in res.ops if op.kind == "bootstrap" and op.ok]
    by_id = {s.sid: s for s in tracer.spans}

    def layer_self(sp: tracing.Span) -> float:
        """Time in epoch-layer spans under `sp`, minus every other layer's."""
        t = sp.dur
        for c in tracer.children(sp.sid):
            t -= c.dur
            if tracing.LAYER_OF.get(c.name) == "epoch":
                t += layer_self(c)
        return t

    def in_op(op, names) -> list[tracing.Span]:
        return [s for n in names for s in tracer.within([op.info["span"]], n)]

    def per_op(fn) -> float:
        return _median([fn(op) for op in drains])

    def span_sum(op, *names) -> float:
        return sum(s.dur for s in in_op(op, names))

    def spark_of(op, layer: str | None = None) -> tracing.SparkCost:
        total = tracing.SparkCost()
        for sid in tracer.descendants(op.info["span"].sid):
            if sid in cost and (layer is None or tracing.LAYER_OF.get(by_id[sid].name) == layer):
                total.add(cost[sid])
        return total

    rp = _replay(res.replay_urls) if res.replay_urls else {
        "fetch": 0.0, "parse": 0.0, "outlinks": 0.0, "links": 0}
    # crawl: the replayed URLs are exactly the timed epochs' granted pages,
    # so their out-link count is the candidates those epochs deduplicated
    candidates = [op.info.get("candidates") for op in drains]
    if None in candidates:
        candidates = [rp["links"] / max(1, len(drains))] * len(drains)
    cand = _median(candidates)
    admitted = per_op(lambda op: op.info["admitted"])
    m = {
        "session.get_spark_s": (get_spark_s, "s"),
        "epoch.bootstrap_self_s": (_median([layer_self(op.info["span"]) for op in boots]), "s"),
        "epoch.self_s": (per_op(lambda op: layer_self(op.info["span"])), "s"),
        "epoch.spark_jobs": (per_op(lambda op: spark_of(op).jobs), "count"),
        "epoch.spark_stages": (per_op(lambda op: spark_of(op).stages), "count"),
        "politeness.plan_s": (per_op(lambda op: span_sum(
            op, "politeness.compute_budgets", "politeness.grant",
            "politeness.apply_robots_gate")), "s"),
        "checkpoint.write_s": (per_op(lambda op: span_sum(
            op, "checkpoint.write", "checkpoint.compact_deltas")), "s"),
        "checkpoint.writes": (per_op(lambda op: len(in_op(
            op, ["checkpoint.write", "checkpoint.compact_deltas"]))), "count"),
        "checkpoint.bytes_written": (per_op(lambda op: op.info["ckpt_bytes"]), "bytes"),
        "checkpoint.read_s": (per_op(lambda op: span_sum(
            op, "checkpoint.read_snapshot", "checkpoint.read_deltas")), "s"),
        "checkpoint.commit_s": (per_op(lambda op: span_sum(op, "checkpoint.commit")), "s"),
        "dedup.call_s": (per_op(lambda op: span_sum(op, "dedup.dedup_candidates")), "s"),
        "dedup.candidates": (cand, "count"),
        "dedup.admitted": (admitted, "count"),
        "dedup.admit_frac": (admitted / cand if cand else 0.0, "fraction"),
        "segstore.files_written": (per_op(lambda op: op.info["seg_files"]), "count"),
        "segstore.bytes_written": (per_op(lambda op: op.info["seg_bytes"]), "bytes"),
        "segstore.live_segments": (per_op(lambda op: op.info["live_segments"]), "count"),
        "fetch.replay_pages_per_s": (rp["fetch"], "pages/s"),
        "parse.pages_per_s": (rp["parse"], "pages/s"),
        "urltools.outlinks_pages_per_s": (rp["outlinks"], "pages/s"),
        "spark.executor_run_s": (per_op(lambda op: spark_of(op).executor_run_s), "s"),
        "spark.scheduler_delay_s": (per_op(lambda op: spark_of(op).scheduler_delay_s), "s"),
        "spark.shuffle_write_bytes": (per_op(lambda op: spark_of(op).shuffle_write_bytes), "bytes"),
        "spark.spill_bytes": (per_op(lambda op: spark_of(op).spill_bytes), "bytes"),
        "spark.task_failures": (per_op(lambda op: spark_of(op).task_failures), "count"),
        "spark.epoch.executor_run_s": (per_op(
            lambda op: spark_of(op, "epoch").executor_run_s), "s"),
        "spark.checkpoint.executor_run_s": (per_op(
            lambda op: spark_of(op, "checkpoint").executor_run_s), "s"),
        "host.external_busy_frac": (host.external_busy_frac, "fraction"),
        "host.steal_frac": (host.steal_frac, "fraction"),
    }
    for k, v in {**first_batch(res), **e2e}.items():
        if k not in ("setup_s", "rss_peak_mb"):
            m["traced." + k] = v
    return m


def main() -> int:
    t_proc = _process_start_epoch()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"error: run from the repository root ({PACKAGE}/ not found in {root})",
              file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(root, ".perfbench_out")
    for d in (f"{work}/tmp", f"{work}/jvm-tmp", f"{work}/eventlog", out_dir):
        os.makedirs(d, exist_ok=True)
    # the repo on the Python workers' path (they do not inherit sys.path);
    # temp and shuffle files inside the work dir
    sys.path.insert(0, root)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ.pop("SPARK_GRAFT_NO_WARM", None)
    try:
        return _run(args, work, out_dir, t_proc)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, out_dir: str, t_proc: float) -> int:
    event_log = f"{work}/eventlog" if args.trace else None
    cores = len(os.sched_getaffinity(0))
    tracer = tracing.Tracer(enabled=bool(args.trace))
    spark = None
    try:
        with procstat.TreeSampler(os.getpid()) as rss:
            from gsccca_tax_records_scraper_spark import session

            with tracer.span("session.get_spark") as get_spark_span:
                spark = session.get_spark(
                    app_name=f"perfbench-{args.workload}", cores=cores,
                    extra_conf=_spark_conf(work, event_log),
                )
            setup_s = time.time() - t_proc
            tracer.bind(spark)
            tracer.install()
            with procstat.HostLoad(os.getpid()) as host:
                res = WORKLOADS[args.workload](spark, tracer, work, args.seed, args.seconds)
            tracer.uninstall()
            app_id = spark.sparkContext.applicationId
    finally:
        _shutdown(spark)

    e2e = end_to_end(res, setup_s, rss.peak)
    attempted = len(res.ops)
    failed = sum(not op.ok for op in res.ops)
    correct = failed == 0 and any(op.kind == "drain" for op in res.ops)

    print(f"workload={args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace} cores={cores} driver_memory={DRIVER_MEMORY}")
    drains = [op.seconds for op in res.ops if op.kind == "drain" and op.ok]
    print(f"drain latency: n={len(drains)} p50={_median(drains):.3f}s "
          f"max={max(drains, default=0):.3f}s highest supported percentile: "
          f"{_percentile_note(len(drains))}")
    print(f"host during run: external_busy={host.external_busy_frac:.3f} "
          f"steal={host.steal_frac:.3f} own={host.own_frac:.3f} of {host.ncpu} cpus")
    print(f"attempted={attempted} failed={failed} error_rate={failed / max(1, attempted):.4f}")
    for op in res.ops:
        if not op.ok:
            print(f"FAILED {op.kind}: {op.error}")

    first = first_batch(res)
    print("first batch (cold JVM, no bound): " + " ".join(
        f"{k}={v:.3f}{u}" for k, (v, u) in first.items()))
    last = os.path.join(out_dir, f"{args.workload}.untraced.json")
    if args.trace:
        cost = tracing.reduce_event_log(event_log, app_id)
        metrics = per_layer(res, tracer, cost, get_spark_span.dur, host, e2e)
        if os.path.exists(last):
            with open(last) as f:
                base = json.load(f)
            for k, b in base.items():
                t = metrics.get("traced." + k, (None,))[0]
                if b and t is not None:
                    print(f"tracing overhead {k}: traced {t:.4g} vs untraced {b:.4g} "
                          f"({(t - b) / b:+.1%}, seeds may differ)")
    else:
        metrics = e2e
        with open(last, "w") as f:
            json.dump({k: v for k, (v, _) in {**first, **e2e}.items()}, f)
    for k, (v, unit) in metrics.items():
        print(f"  {k:34s} {v:14.6g} {unit}")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
