"""One benchmark run: set up, run operations in a closed loop, gate, report.

Timeline of a run (one process, one JVM on local[nproc]):

1. setup (``setup_s``): the SparkSession starts while a helper thread
   generates the seed's site and computes its oracle (or loads both from
   the cache). A crawl workload then starts its first crawl, whose first
   batch is the warm-up (in a fresh JVM it costs about three warm batches:
   cold planning, code generation, Python workers); setup ends when that
   batch's ``commit_batch`` returns. A step workload derives its frontier,
   loads it into Spark and runs one warm-up step.
2. timed loop: one client, closed loop; each operation starts after the
   previous one has committed, until ``seconds`` have passed. A crawl
   workload's operation is one crawl of the site from scratch with
   ``engine.crawl.crawl()``, timed from its warm-up batch's commit to the
   return of ``crawl()`` (the last commit and payload verify landed). A
   step workload's operation is one committed scheduling step.
3. gate (untimed): every operation's outputs against the oracle.
4. traced run only: per-layer metrics from the first operation (spans,
   Spark REST, ``CrawlResult.batch_stats``), the post-crawl report path on
   a complete store and the isolated layer probes.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import corpus as CP
import frontier as FR
import gate as G
import layers as L
from spans import Tracer
from workloads import WORKLOADS

E2E_UNITS = {"urls_per_s": "URL/s", "commit_interval_p50_s": "s",
             "setup_s": "s"}

PHASES = {  # CrawlResult.batch_stats[*].phase_s key → metric suffix
    "admit+fetch(lazy)": "admit_fetch",
    "discover(lazy)": "discover",
    "plan frontier/politeness/metrics": "plan",
    "materialize fetched (kind counts)": "materialize_fetch",
    "materialize parsed (single-pass)": "materialize_parse",
    "commit submit + checkpoint": "commit_checkpoint",
}


def layer_unit(name: str) -> str:
    if name.endswith("_per_url") or name in ("spark.spill_bytes", "export.bytes"):
        return "B"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s") or name.endswith("_s_per_batch"):
        return "s"
    if name.endswith(("_ratio", "_frac")):
        return "ratio"
    return "count"


# -- session ---------------------------------------------------------------

def start_session(work: Path, ui: bool):
    from pttcrawler_spark.session import get_spark
    conf = {
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
        "spark.ui.showConsoleProgress": "false",
    }
    if ui:
        conf.update({"spark.ui.enabled": "true", "spark.ui.port": "0",
                     "spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000"})
    return get_spark(len(os.sched_getaffinity(0)), app_name="perfbench",
                     extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers)."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()      # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


# -- host context ------------------------------------------------------------

def host_sample() -> dict:
    with open("/proc/stat") as fh:
        cpu = [int(x) for x in fh.readline().split()[1:]]
    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])
    return {"total": sum(cpu), "steal": cpu[7] if len(cpu) > 7 else 0,
            "load1": load1}


def host_context(before: dict, after: dict) -> dict:
    total = max(after["total"] - before["total"], 1)
    return {"steal_frac": (after["steal"] - before["steal"]) / total,
            "load1_start": before["load1"], "load1_end": after["load1"]}


# -- commit clock ------------------------------------------------------------

class CommitClock:
    """Return times of ``engine.state.commit_batch``, seen from outside."""

    def __init__(self, on_return=None):
        self.returns: list[float] = []
        self.on_return = on_return
        self._orig = None

    def install(self) -> None:
        from pttcrawler_spark.engine import state as ST
        orig = self._orig = ST.commit_batch

        def commit_batch(*args, **kwargs):
            try:
                return orig(*args, **kwargs)
            finally:
                self.returns.append(time.perf_counter())
                if self.on_return is not None:
                    self.on_return()

        ST.commit_batch = commit_batch

    def restore(self) -> None:
        from pttcrawler_spark.engine import state as ST
        if self._orig is not None:
            ST.commit_batch = self._orig
            self._orig = None


def install_spans(tracer: Tracer) -> None:
    from pttcrawler_spark.engine import state as ST
    from pttcrawler_spark.engine import verify as V
    from pttcrawler_spark.functions import parse as FP
    from pttcrawler_spark.operators import bloom as BL
    from pttcrawler_spark.operators import politeness as POL
    tracer.wrap(ST, "commit_batch", "state.commit_batch")
    tracer.wrap(ST, "load_snapshot", "state.load_snapshot", lazy=True)
    tracer.wrap(ST, "read_table", "state.read_table", lazy=True)
    tracer.wrap(V, "verify_committed_batch", "verify.verify_committed_batch")
    tracer.wrap(POL, "admit_window", "politeness.admit_window", lazy=True)
    tracer.wrap(FP, "parse_article_pages", "parse.parse_article_pages", lazy=True)
    tracer.wrap(FP, "parse_index_pages", "parse.parse_index_pages", lazy=True)
    # rebuild/add/split only plan; save writes (and so executes them)
    for meth in ("rebuild", "add", "split"):
        tracer.wrap(BL.BloomState, meth, f"bloom.{meth}", lazy=True)
    for meth in ("save", "load"):
        tracer.wrap(BL.BloomState, meth, f"bloom.{meth}")


# -- the run -------------------------------------------------------------------

def _p50(values) -> float:
    return statistics.median(values) if values else 0.0


WARM_BATCHES = 1


class CrawlOps:
    """Operation = one crawl of the site from scratch; its first
    ``WARM_BATCHES`` batches are the warm-up and are not timed."""

    def __init__(self, spark, prepared, crawl_cfg: dict, batches: int):
        from pttcrawler_spark.engine import crawl as C
        self.crawl, self.spark, self.p = C.crawl, spark, prepared
        self.cfg = C.CrawlConfig(**crawl_cfg, max_batches=batches)
        self.budget = math.floor(self.cfg.burst)
        self.corpus = spark.read.parquet(prepared.corpus_dir)

    def run(self, out_dir: str):
        shutil.rmtree(out_dir, ignore_errors=True)
        return self.crawl(self.spark, self.corpus, self.p.seeds, out_dir,
                          self.cfg)

    def timed(self, call, runs_dir: Path, i: int, clock) -> dict:
        n_before = len(clock.returns)
        res = call(self.run, str(runs_dir / f"op{i}"))
        t_end = time.perf_counter()
        rets = clock.returns[n_before + WARM_BATCHES - 1:]
        return {"res": res, "t_start": rets[0], "wall": t_end - rets[0],
                "urls": sum(b["fetched"] for b in res.batch_stats[WARM_BATCHES:]),
                "gaps": [b - a for a, b in zip(rets, rets[1:])]}

    def gate(self, runs_dir: Path, i: int, op: dict) -> tuple[dict, list[str]]:
        res = op["res"]
        out = G.crawl_outputs(res)
        return out, G.check_crawl(out, self.p.oracle, res.final_batch + 1,
                                  self.budget)


class StepOps:
    """Operation = one committed scheduling step over the frontier a polite
    crawl of the site holds after ``cut`` batches."""

    def __init__(self, spark, prepared, crawl_cfg: dict, cut: int,
                 runs_dir: Path):
        from pttcrawler_spark.engine import crawl as C
        cfg = C.CrawlConfig(**crawl_cfg)
        self.backlog = FR.derive(prepared, math.floor(cfg.burst), cut)
        self.stepper = FR.Stepper(spark, self.backlog, cfg)
        self.urls = len(self.backlog.pending) + len(self.backlog.candidates)
        # the warm-up: the first step in a fresh JVM costs about two warm ones
        self.stepper.step(str(runs_dir / "warmup"), 0)

    def timed(self, call, runs_dir: Path, i: int, clock) -> dict:
        prev = clock.returns[-1:]       # cadence across steps
        n_before = len(clock.returns)
        t_start = time.perf_counter()
        call(self.stepper.step, str(runs_dir / "steps"), i)
        rets = prev + clock.returns[n_before:]
        return {"res": None, "t_start": t_start,
                "wall": time.perf_counter() - t_start, "urls": self.urls,
                "gaps": [b - a for a, b in zip(rets, rets[1:])]}

    def gate(self, runs_dir: Path, i: int, op: dict) -> tuple[dict, list[str]]:
        out = FR.step_outputs(str(runs_dir / "steps"), i)
        return out, FR.check_step(out, self.backlog)


def run(workload: str, seed: int, seconds: float, trace: bool, work: Path,
        site: dict | None = None, spark=None) -> dict:
    """One run; returns {correct, attempted, failed, metrics, detail}.
    ``site`` overrides the workload's site shape (self-test); ``spark``
    reuses a running session instead of starting and stopping one."""
    wl = WORKLOADS[workload]
    site = site or wl.site
    host0 = host_sample()
    runs_dir = work / "runs" / str(os.getpid())
    shutil.rmtree(runs_dir, ignore_errors=True)

    # 1. setup: session start overlapped with input + oracle preparation;
    # then the step inputs are loaded, or the first crawl's warm-up batch
    # runs (setup ends where the first operation's timed part starts)
    t0 = time.perf_counter()
    pool = ThreadPoolExecutor(max_workers=1)
    prepared = pool.submit(CP.prepare, work, workload, site, seed)
    pool.shutdown(wait=False)
    own_session = spark is None
    if own_session:
        spark = start_session(work, ui=trace)
    setup_parts = {"session": time.perf_counter() - t0}
    runtime = tracer = None
    clock = CommitClock()
    clock.install()
    try:
        inputs = prepared.result()
        setup_parts["inputs"] = time.perf_counter() - t0
        if wl.kind == "crawl":
            ops_impl = CrawlOps(spark, inputs, wl.crawl, wl.batches)
        else:
            ops_impl = StepOps(spark, inputs, wl.crawl, wl.cut, runs_dir)

        def call(fn, *args):    # one operation, a root span when traced
            return tracer.operation(wl.kind, fn, *args) if tracer else fn(*args)

        if trace:
            runtime = L.SparkRuntime(spark)
            tracer = Tracer(f"{workload}-{seed}-{os.getpid()}")
            install_spans(tracer)
            rest = {}
            if wl.kind == "step":
                rest["before"] = runtime.snapshot()

            def on_commit():    # a crawl's Spark work counts from its warm-up's commit
                if len(clock.returns) == WARM_BATCHES and "before" not in rest:
                    rest["before"] = runtime.snapshot()
                runtime.sample_storage()

            clock.on_return = on_commit

        # 2. timed closed loop
        ops = []
        t_loop = time.perf_counter()
        while True:
            ops.append(ops_impl.timed(call, runs_dir, len(ops), clock))
            if wl.kind == "crawl" and runtime and len(ops) == 1:
                spark_work = runtime.since(rest["before"])
                clock.on_return = None
            if time.perf_counter() - t_loop >= seconds:
                break
        t_gate = time.perf_counter()
        if wl.kind == "step" and runtime:
            spark_work = runtime.since(rest["before"])
            clock.on_return = None
        setup_s = ops[0]["t_start"] - t0

        # 3. gate, outside the timed region
        attempted = failed = 0
        errors: list[str] = []
        for i, op in enumerate(ops):
            op["out"], errs = ops_impl.gate(runs_dir, i, op)
            attempted += 1
            failed += bool(errs)
            errors += errs
        gaps = [g for op in ops for g in op["gaps"]]
        metrics = {"urls_per_s": _p50([op["urls"] / op["wall"] for op in ops]),
                   "commit_interval_p50_s": _p50(gaps),
                   "setup_s": setup_s}
        units = dict(E2E_UNITS)
        phase_s = {"setup": setup_s, **{f"setup.{k}": v for k, v in setup_parts.items()},
                   "loop": t_gate - t_loop,
                   "gate": time.perf_counter() - t_gate}

        # 4. traced run: per-layer metrics
        if trace:
            if wl.kind == "crawl":
                lm, checks = _layer_metrics(spark, ops, ops_impl, runtime,
                                            spark_work, tracer, runs_dir)
            else:
                lm, checks = _step_layer_metrics(spark, wl, ops, ops_impl,
                                                 runtime, spark_work, tracer,
                                                 clock, work, runs_dir, seed)
            for errs in checks:
                attempted += 1
                failed += bool(errs)
                errors += errs
            metrics = lm
            units = {k: layer_unit(k) for k in lm}
            phase_s["layers"] = time.perf_counter() - t_gate - phase_s["gate"]
            tracer.restore()
            traces = work / "traces"
            traces.mkdir(parents=True, exist_ok=True)
            tracer.dump(traces / f"{tracer.run_id}.json")
    finally:
        if tracer:                 # its wrapper wraps the clock's
            tracer.restore()
        clock.restore()
        if own_session:
            stop_session(spark)
        shutil.rmtree(runs_dir, ignore_errors=True)

    detail = {"workload": workload, "seed": seed, "ops": len(ops),
              "phase_s": phase_s,
              "op_wall_s": [op["wall"] for op in ops],
              "commit_gaps_s": gaps,
              "ops_failed_ratio": failed / attempted,
              "errors": errors[:20],
              "host": host_context(host0, host_sample())}
    if wl.kind == "crawl":
        stats = ops[0]["res"].batch_stats
        detail["batches"] = [{k: b[k] for k in ("fetched", "wall_s", "phase_s")}
                             for b in stats]
        detail["byte_path_share"] = byte_path_share(stats[WARM_BATCHES:],
                                                    ops[0]["wall"])
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in metrics.items()},
        "detail": detail,
    }


def byte_path_share(stats: list[dict], wall: float) -> float:
    """Share of a crawl's timed wall time spent in the phases that scale
    with page bytes: the fetch (corpus scan and join) and the single-pass
    parse, both materialized once per batch. The table writes and the
    payload verify overlap other work and are not counted."""
    return sum(b["phase_s"].get(k, 0.0) for b in stats
               for k in ("materialize fetched (kind counts)",
                         "materialize parsed (single-pass)")) / wall


def _layer_metrics(spark, ops, ops_impl, runtime, spark_work, tracer,
                   runs_dir, frontier_probes: bool = True):
    """Per-layer metrics of a traced crawl run → (metrics, the failure
    lists of the extra gated operations). Batches, spans and the Spark
    runtime come from the first crawl's timed batches; the report path and
    the probes run on its complete store."""
    from pttcrawler_spark.engine import export as E
    from pttcrawler_spark.engine import query as Q
    from pttcrawler_spark.engine import store as S
    p = ops_impl.p
    op = ops[0]
    stats = op["res"].batch_stats[WARM_BATCHES:]
    m: dict[str, float] = {}

    # engine/crawl
    m["crawl.batches"] = len(stats)
    m["crawl.urls_per_batch_p50"] = _p50([b["fetched"] for b in stats])
    for key, name in PHASES.items():
        m[f"crawl.phase.{name}_p50_s"] = _p50(
            [b["phase_s"].get(key, 0.0) for b in stats])

    # Spark runtime over the first crawl's timed batches
    m.update(runtime.metrics(spark_work, len(stats), op["urls"]))

    # engine/state and engine/verify, from the first crawl's spans
    crawl_span = tracer.by_name("crawl")[0]

    def crawl_spans(name):      # worker-thread spans are parented to the crawl
        return sorted((s for s in tracer.by_name(name)
                       if s["parent"] == crawl_span["id"]),
                      key=lambda s: s["start"])[WARM_BATCHES:]

    m["state.commit_p50_s"] = _p50(
        [s["end"] - s["start"] for s in crawl_spans("state.commit_batch")])
    # one verify call per committed batch, in batch order; batches without
    # articles return at once and are left out
    m["verify.batch_p50_s"] = _p50(
        [s["end"] - s["start"] for s, b in
         zip(crawl_spans("verify.verify_committed_batch"), stats)
         if b["article"] > 0])
    m["trace.crawl_s"] = crawl_span["end"] - crawl_span["start"]
    m["trace.crawl_self_s"] = tracer.self_time(crawl_span)

    # the crawl's store (the crawl is complete)
    res, out, checks = op["res"], op["out"], []
    n_bytes, n_files = G.dir_bytes_and_files(res.out_dir)
    m["state.bytes_per_url"] = n_bytes / G.n_fetched(out)
    m["state.files_per_batch"] = n_files / (res.final_batch + 1)
    m["verify.rows"] = len(out["verify"])
    m["verify.failed_rows"] = G.verify_failed_rows(out)

    # the post-crawl report path over the committed store
    exp_dir, q_dir = str(runs_dir / "export"), str(runs_dir / "query")

    def report():
        tables = tracer.call("store.build_relational", S.build_relational,
                             res, lazy=True)
        tables["ip_asn"] = tracer.call("store.enrich_ip_asn", S.enrich_ip_asn,
                                       tables["ip_asn"], lazy=True)
        paths = tracer.call("export.export_sheets", E.export_sheets,
                            tables, exp_dir, "csv")
        rep = tracer.call("query.tw_ip_report", Q.tw_ip_report, tables,
                          p.oracle["report_board"], lazy=True)
        return paths, tracer.call("query.write_report_csv",
                                  Q.write_report_csv, rep, q_dir)

    paths, report_path = tracer.operation("report", report)
    rspan = tracer.by_name("report")[0]
    m["report.total_s"] = rspan["end"] - rspan["start"]
    m["export.sheets_s"] = _span_s(tracer, "export.export_sheets")
    m["export.bytes"] = sum(G.dir_bytes_and_files(q)[0] for q in paths.values())
    m["query.tw_ip_report_s"] = (_span_s(tracer, "query.tw_ip_report")
                                 + _span_s(tracer, "query.write_report_csv"))
    checks.append(G.check_report(G.report_outputs(spark, paths, report_path),
                                 p.oracle))

    # isolated probes: execution time of the lazy layers, on the
    # workload's own frontier, pages and images
    m.update(L.probe_store(res))
    m.update(L.probe_state(spark, res))
    if frontier_probes:     # a step workload measures these on its steps
        m.update(L.probe_politeness(spark, res.out_dir, stats, ops_impl.cfg))
        bloom_m, bloom_errs = L.probe_bloom(spark, res.out_dir, stats,
                                            ops_impl.cfg, runs_dir / "bloom_probe")
        m.update(bloom_m)
        checks.append(bloom_errs)
    m.update(L.probe_parse(spark, p.corpus_dir))
    m.update(L.probe_verify(spark, res))

    m["trace.spans"] = len(tracer.spans)
    m["trace.overhead_s"] = tracer.bookkeeping_s + runtime.poll_s
    return m, checks


def _span_s(tracer: Tracer, name: str) -> float:
    return sum(s["end"] - s["start"] for s in tracer.by_name(name))


def _step_layer_metrics(spark, wl, ops, ops_impl, runtime, spark_work, tracer,
                        clock, work, runs_dir, seed):
    """Per-layer metrics of a traced step run. Admission, URL-seen, commit
    and Spark runtime come from the timed steps and their inputs; the
    crawl-loop layers (batches, parse, verify, state, report path) come
    from a complete polite crawl of the workload's layer site, run here
    after the steps. That crawl also checks the step inputs' derivation:
    the frontier derived for it after 2 batches must be the one the engine
    committed at batch 1."""
    st = ops_impl.stepper
    m = runtime.metrics(spark_work, len(ops), sum(op["urls"] for op in ops))
    step_ids = {s["id"] for s in tracer.by_name("step")}
    m["state.commit_p50_s"] = _p50(
        [s["end"] - s["start"] for s in tracer.by_name("state.commit_batch")
         if s["parent"] in step_ids])
    m.update(L.probe_admit(st.pending, st.politeness, st.cfg))
    st.bloom.blobs = st.blobs
    maybe_seen, _new = st.bloom.split(st.candidates)
    m["bloom.maybe_seen_ratio"] = maybe_seen.count() / len(ops_impl.backlog.candidates)
    new_hashes = st.candidates.join(st.frontier, "url", "left_anti").select("url_hash")
    m.update(L.bloom_add_save(st.bloom, new_hashes, str(runs_dir / "bloom_probe")))

    prepared = CP.prepare(work, f"{wl.name}-layers", wl.layer_site, seed)
    crawl_ops = CrawlOps(spark, prepared, wl.crawl, 10_000)
    before = runtime.snapshot()
    crawl = crawl_ops.timed(
        lambda fn, *a: tracer.operation("crawl", fn, *a), runs_dir, 0,
        clock)
    crawl_work = runtime.since(before)
    crawl["out"], crawl_errs = crawl_ops.gate(runs_dir, 0, crawl)
    derived = FR.derive(prepared, crawl_ops.budget, 2)
    derive_errs = FR.check_derived(spark, derived, crawl["res"].out_dir, 1)
    lm, checks = _layer_metrics(spark, [crawl], crawl_ops, runtime,
                                crawl_work, tracer, runs_dir,
                                frontier_probes=False)
    lm.update(m)
    return lm, [crawl_errs, derive_errs] + checks
