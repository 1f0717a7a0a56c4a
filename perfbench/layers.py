"""Per-layer measurements for the traced run.

Two sources besides the spans:

- ``SparkRuntime`` reads the Spark status REST API (the UI is on in the
  traced run only) before and after the timed operations: jobs and tasks
  and storage memory here, executor run/CPU/GC time and bytes read,
  shuffled and spilled through ``engine/taskmetrics``.
- The isolated probes run one layer's public function on inputs captured
  from the workload's own crawl and force execution through the noop sink,
  so a layer whose call only plans (politeness, parse, verify, bloom, the
  relational store) reports execution time, not planning time.
"""

from __future__ import annotations

import json
import math
import time
import urllib.request
from datetime import datetime, timezone
from pathlib import Path

from pyspark.sql import functions as F

from spans import covered_length


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed_noop(make_df) -> float:
    """Wall time of building ``make_df()`` and running it to the noop sink."""
    t0 = time.perf_counter()
    noop(make_df())
    return time.perf_counter() - t0


# -- Spark runtime (status REST API) ----------------------------------------

def _rest_time(s: str | None) -> float | None:
    if not s:
        return None
    return datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f") \
        .replace(tzinfo=timezone.utc).timestamp()


class SparkRuntime:
    """Jobs and storage memory from the status REST API; the stage task
    totals (run/CPU/GC time, bytes read, shuffled and spilled) and their
    ratios from the engine's own ``engine/taskmetrics``."""

    def __init__(self, spark):
        self.spark = spark
        self.base = spark.sparkContext.uiWebUrl
        if not self.base:
            raise RuntimeError("the traced run needs the Spark UI")
        self.app = spark.sparkContext.applicationId
        self.cores = spark.sparkContext.defaultParallelism
        self.poll_s = 0.0               # time spent polling, part of overhead
        self.peak_storage = 0

    def _get(self, path: str):
        t0 = time.perf_counter()
        try:
            with urllib.request.urlopen(
                    f"{self.base}/api/v1/applications/{self.app}/{path}",
                    timeout=10) as r:
                return json.loads(r.read().decode())
        finally:
            self.poll_s += time.perf_counter() - t0

    def _task_totals(self) -> dict:
        from pttcrawler_spark.engine import taskmetrics as TM
        t0 = time.perf_counter()
        totals = TM.sample(self.spark)
        self.poll_s += time.perf_counter() - t0
        if totals is None:
            raise RuntimeError("no task metrics from the Spark UI")
        return totals

    def sample_storage(self) -> None:
        for ex in self._get("executors"):
            self.peak_storage = max(self.peak_storage,
                                    int(ex.get("memoryUsed", 0) or 0))

    def snapshot(self) -> dict:
        return {"jobs": {j["jobId"] for j in self._get("jobs")},
                "tasks": self._task_totals(), "t": time.time()}

    def since(self, before: dict) -> dict:
        """Jobs and task totals of the work after ``before``; take this
        right after the measured operations, before any other Spark work."""
        from pttcrawler_spark.engine import taskmetrics as TM
        return {"jobs": [j for j in self._get("jobs")
                         if j["jobId"] not in before["jobs"]],
                "tasks": TM.delta(before["tasks"], self._task_totals()),
                "t0": before["t"], "t_end": time.time()}

    def metrics(self, work: dict, batches: int, urls: int) -> dict:
        """spark.* metrics of ``work`` (from ``since``), per batch / URL."""
        from pttcrawler_spark.engine import taskmetrics as TM
        jobs, d = work["jobs"], work["tasks"]
        t0, t_end = work["t0"], work["t_end"]
        wall = t_end - t0
        # driver idle = operation wall time not covered by any running job
        busy = covered_length(
            (max(_rest_time(j.get("submissionTime")) or t0, t0),
             min(_rest_time(j.get("completionTime")) or t_end, t_end))
            for j in jobs)
        ratios = TM.summarize(d, self.cores, wall)
        return {
            "spark.jobs_per_batch": len(jobs) / batches,
            "spark.tasks_per_batch": sum(j.get("numTasks", 0) for j in jobs) / batches,
            "spark.driver_idle_s_per_batch": max(wall - busy, 0.0) / batches,
            "spark.core_busy_frac": ratios.get("core_utilization", 0.0),
            "spark.cpu_frac": ratios.get("cpu_frac", 0.0),
            "spark.gc_frac": ratios.get("gc_frac", 0.0),
            "spark.input_bytes_per_url": d["input_bytes"] / urls,
            "spark.shuffle_write_bytes_per_url": d["shuffle_write_bytes"] / urls,
            "spark.spill_bytes": d["mem_spill_bytes"] + d["disk_spill_bytes"],
            "spark.peak_storage_mb": self.peak_storage / 1e6,
        }


# -- isolated probes ----------------------------------------------------------

def _mid_batch(batch_stats: list[dict]) -> int:
    """The committed batch right before the crawl's largest batch: its
    frontier holds the biggest pending backlog the loop had to admit from."""
    peak = max(batch_stats, key=lambda b: (b["fetched"], -b["batch_id"]))
    return max(peak["batch_id"] - 1, 0)


def probe_admit(pending, pol, crawl_cfg) -> dict:
    """politeness.admit_window (after the loop's refill) over ``pending``
    with per-host state ``pol``, both already cached."""
    from pttcrawler_spark.operators import politeness as POL

    def admit():
        refilled = POL.refill(pol, crawl_cfg.batch_seconds, crawl_cfg.burst)
        return POL.admit_window(pending, refilled,
                                max_budget=math.ceil(crawl_cfg.burst))

    admit_s = timed_noop(admit)
    n_pending = pending.count()
    n_admitted = admit().where(F.col("admit")).count()
    return {"politeness.admit_s": admit_s,
            "politeness.admit_ratio": n_admitted / max(n_pending, 1),
            "politeness.pending_rows": n_pending}


def probe_politeness(spark, out_dir: str, batch_stats, crawl_cfg) -> dict:
    """probe_admit on the crawl's own mid-crawl frontier and state."""
    from pttcrawler_spark.engine import state as ST
    mid = _mid_batch(batch_stats)
    pending = (ST.load_frontier(spark, out_dir, mid)
               .where(F.col("status") == "pending").persist())
    pol = spark.read.parquet(
        str(Path(out_dir) / "state" / f"batch={mid}" / "politeness")).persist()
    pending.count()
    pol.count()
    m = probe_admit(pending, pol, crawl_cfg)
    pending.unpersist()
    pol.unpersist()
    return m


def bloom_add_save(bl, new_hashes, save_dir: str) -> dict:
    """Time BloomState.add (forced through the noop sink) and .save."""
    t0 = time.perf_counter()
    bl.add(new_hashes)
    noop(bl.blobs)
    add_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    bl.save(save_dir, 0)
    return {"bloom.add_s": add_s, "bloom.save_s": time.perf_counter() - t0}


def probe_bloom(spark, out_dir: str, batch_stats, crawl_cfg, work: Path) -> tuple[dict, list[str]]:
    """Seen set = the frontier at the mid-crawl batch; the rest of the final
    frontier is added to the filter; the candidates are every final
    frontier URL plus as many never-seen variants of them. Every seen
    candidate must come back maybe-seen (a bloom filter has no false
    negatives)."""
    from pttcrawler_spark.engine import state as ST
    from pttcrawler_spark.operators import bloom as BL
    from pttcrawler_spark.functions import url as FU
    mid = _mid_batch(batch_stats)
    seen = ST.load_frontier(spark, out_dir, mid).select("url", "url_hash").persist()
    final = ST.load_snapshot(spark, out_dir).frontier.select("url", "url_hash").persist()
    seen.count()
    final.count()
    bl = BL.BloomState(crawl_cfg.bloom_partitions, crawl_cfg.bloom_bits_per_key)
    bl.rebuild(seen.select("url_hash"))
    noop(bl.blobs)
    m = bloom_add_save(bl, final.join(seen, "url", "left_anti").select("url_hash"),
                       str(work))
    fresh = final.select(F.concat("url", F.lit("?unseen")).alias("url"))
    fresh = fresh.withColumn("url_hash", FU.url_hash64(F.col("url")))
    cand = final.withColumn("_seen", F.lit(True)).unionByName(
        fresh.withColumn("_seen", F.lit(False)))
    maybe, _new = bl.split(cand)
    counts = {r["_seen"]: r["n"] for r in
              maybe.groupBy("_seen").agg(F.count("*").alias("n")).collect()}
    n_final = final.count()
    errs = []
    if counts.get(True, 0) != n_final:
        errs.append(f"bloom lost {n_final - counts.get(True, 0)} seen URLs")
    seen.unpersist()
    final.unpersist()
    m["bloom.maybe_seen_ratio"] = (
        (counts.get(True, 0) + counts.get(False, 0)) / (2 * n_final))
    return m, errs


def probe_parse(spark, corpus_dir: str) -> dict:
    from pttcrawler_spark.functions import parse as FP
    pages = spark.read.parquet(corpus_dir)
    arts = pages.where(F.col("kind") == "article").select(
        FP.web_id_of(F.col("url")).alias("web_id"), "board", "page_index",
        "dom_pos", "url", "html").persist()
    idx = pages.where(F.col("kind") == "index").select(
        "url", "board",
        F.regexp_extract("board", r"(\d+)$", 1).cast("int").alias("board_rank"),
        "page_index", "html").persist()
    n_art, n_idx = arts.count(), idx.count()
    art_s = timed_noop(lambda: FP.parse_article_pages(arts))
    idx_s = timed_noop(lambda: FP.parse_index_pages(idx))
    arts.unpersist()
    idx.unpersist()
    return {"parse.article_pages_per_s": n_art / art_s,
            "parse.index_pages_per_s": n_idx / idx_s}


def probe_verify(spark, res) -> dict:
    from pttcrawler_spark.engine import verify as V
    captions = res.table("parsed_articles").select(
        F.col("web_id").alias("image_id"), F.col("title").alias("expected_caption"))
    payload = res.table("images").join(F.broadcast(captions), "image_id").persist()
    n = payload.count()
    s = timed_noop(lambda: V.verify_payloads(payload))
    payload.unpersist()
    return {"verify.payload_rows_per_s": n / s}


def probe_state(spark, res) -> dict:
    from pttcrawler_spark.engine import state as ST
    out_dir = res.out_dir
    names = sorted(p.name for p in (Path(out_dir) / "tables").iterdir())
    load_s = timed_noop(lambda: ST.load_snapshot(spark, out_dir).frontier)

    t0 = time.perf_counter()
    for name in names:
        noop(ST.read_table(spark, out_dir, name, max_batch=res.final_batch))
    return {"state.load_snapshot_s": load_s,
            "state.read_table_s": time.perf_counter() - t0}


def probe_store(res) -> dict:
    from pttcrawler_spark.engine import store as S

    t0 = time.perf_counter()
    tables = S.build_relational(res)
    for df in tables.values():
        noop(df)
    build_s = time.perf_counter() - t0
    enrich_s = timed_noop(lambda: S.enrich_ip_asn(tables["ip_asn"]))
    return {"store.build_relational_s": build_s, "store.enrich_asn_s": enrich_s}
