"""The micro-batch frontier crawl loop — the heart of the engine.

Re-expresses the reference's single-threaded loop (crawler/article.py:419-511
+ crawler/article_index.py:119-174) as a Structured-Streaming-style
micro-batch drain over a frontier table:

  pending → [per-host token bucket admit]  (operators/politeness)
          → [simulated fetch = join corpus] (network I/O stand-in)
          → bootstrap: getLastPage → seed index rows L..1     (F1)
          → index: parse entries → canonicalize → ANTI-JOIN dedupe → enqueue
          → article: parse fields/pushes/payload → append output tables
          → frontier/politeness/metrics snapshot (engine/state)

Ordering is DATA, not task order. Per-host sort key (priority desc,
discovery_seq asc) with

  priority = board_major(board_rank) + local
  local    = bootstrap: 1<<21 | index p: 2p+1 | article p: 2p

reproduces the reference's exact order — boards sequentially (single-host
case), within a board: index L, its articles in DOM order, index L-1, ... —
under any parallelism and any politeness budget ≥ 1: admission is a prefix
of the sort order, and the politeness operator's *discovery barrier* stops
each host's admission after the first index/bootstrap row so pages spawned
later can claim their rightful place in the order.

Scale design notes (100 TB / 10^10 URLs):
- every join/agg keys on url/host which are hash-partitionable; host skew is
  bounded by the pre-truncation in operators/politeness (a host contributes
  at most ceil(tokens) rows to any per-host group);
- the candidate anti-join is the scale hot spot → operators/bloom provides a
  partitioned Bloom pre-filter so the exact join only sees maybe-seen URLs;
- frontier durability is merge-on-read: each batch commits an O(changes)
  delta, periodically compacted to a full snapshot (engine/state docstring) —
  the Iceberg MERGE INTO analog at the parquet level;
- materialize once: every intermediate a batch reads more than once (the
  admission, the fetched pages, the discovered URLs, the parse, the frontier
  delta, the next politeness and frontier state) is an eager
  localCheckpoint LEAF, computed exactly once in executor block storage.
  Everything downstream plans against those shallow leaves, so no later
  job or driver-side analysis re-derives the batch lineage, and the plan
  never grows with batch count (the classic iterative-job trap) without a
  per-batch parquet round-trip. The loop frees each leaf's blocks itself
  once the batch's commit — its last reader — has landed.
"""

from __future__ import annotations

import datetime as _dt
import math
import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import parse as FP
from ..functions import url as FU
from ..operators import politeness as POL
from . import state as ST
from . import taskmetrics as TM
from . import verify as V

_DEBUG_TIMING = os.environ.get("SPARK_GRAFT_DEBUG_TIMING") == "1"

from pyspark import StorageLevel as _SL


def _heavy_cache_level(spark) -> "_SL":
    """Storage level of the per-batch HEAVY leaves (the fetched pages with
    their raw html + image payload columns, and the parse): computed once,
    read by every consumer job in the batch, freed after the batch's
    commit. Default MEMORY_AND_DISK. The leaves are checkpoint blocks of
    rows, not the in-memory columnar cache, so the columnar cache's
    compression setting does not touch them. What matters is the heap the
    blocks live on (measured on the scaling corpus, 172k-URL steady
    batches, G1):

    - an ADAPTIVE (unbounded) G1 young gen re-copies the GBs of surviving
      blocks on every young pause: 2.3 s pauses, 50-80 % of task time in GC
      at local[32]. A bounded young gen (-XX:G1MaxNewSizePercent=10)
      promotes the blocks once and cuts GC wall ~6x.
    - OFF_HEAP (tried as the GC fix before the finding above) builds
      blocks ~2x slower than on-heap (an extra serialization pass into
      Unsafe buffers) and lost end-to-end once young-gen was bounded:
      steady batch 49.5 s vs 25.4 s at local[32].

    SPARK_GRAFT_HEAVY_CACHE overrides for experiments."""
    env = os.environ.get("SPARK_GRAFT_HEAVY_CACHE")
    if env:
        return getattr(_SL, env)
    return _SL.MEMORY_AND_DISK


def _leaf(df: DataFrame, level: "_SL | None" = None) -> DataFrame:
    """Compute ``df`` exactly once, now, into executor block storage and
    return a DataFrame planned against those blocks: a shallow leaf that
    later jobs read instead of re-deriving (and the driver re-analyzing)
    ``df``'s lineage. ``level`` None = Spark's local-checkpoint default."""
    return df.localCheckpoint(eager=True, storageLevel=level)


def _release(leaves: list[DataFrame]) -> None:
    """Free the blocks of :func:`_leaf` frames now instead of whenever a
    driver GC lets the ContextCleaner find them."""
    for df in leaves:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)


class _Phase:
    """Per-batch phase timer. Always records into ``times`` (surfaced via
    ``CrawlResult.batch_stats[i]['phase_s']`` — the per-phase scaling
    evidence in BENCH_SCALING.json); prints per-phase lines when
    SPARK_GRAFT_DEBUG_TIMING=1."""

    def __init__(self) -> None:
        self.t = time.perf_counter()
        self.times: dict[str, float] = {}

    def mark(self, label: str) -> None:
        now = time.perf_counter()
        self.times[label] = round(self.times.get(label, 0.0) + (now - self.t), 3)
        if _DEBUG_TIMING:
            # stderr: bench.py's stdout contract is one JSON line
            print(f"      [phase] {label}: {now - self.t:.3f}s",
                  flush=True, file=sys.stderr)
        self.t = now


_LOCAL_BITS = 22                     # local priority fits in 22 bits
_BOOT_LOCAL = 1 << 21                # bootstrap outranks any page of its board
_MAX_BOARD_RANK = 1 << 20

FRONTIER_COLS = [
    "url", "url_hash", "url_hash32", "host", "host_salt", "kind",
    "board", "board_rank", "page_index", "dom_pos", "priority",
    "discovery_seq", "status", "retry_count", "batch_id",
]


@dataclass
class CrawlConfig:
    delay_s: float = 2.0            # config_example.ini:14
    batch_seconds: float = 60.0     # logical clock advance per micro-batch
    capacity: float | None = None   # token bucket burst; default = one batch refill
    impl: str = "window"            # 'window' | 'pandas' politeness impl
    robots: dict[str, list[str]] | None = None
    start_date: _dt.datetime | None = None  # P4 cutoff + early stop
    start_index: int = 1
    end_index: int | None = None    # CLI --index S E upper bound (crawler_arg.py:44-46)
    max_batches: int = 10_000
    use_bloom: bool = False         # back-compat alias for seen_filter='bloom'
    seen_filter: str = ""           # '' (exact anti-join) | 'bloom' | 'cuckoo'
    bloom_partitions: int = 16
    bloom_bits_per_key: int = 16
    verify_payload: bool = True     # north-rule per-row PSNR/phash/caption check
    # Run the verify stage as a pipelined FOLLOW-ON job per batch: batch k's
    # verify reads the COMMITTED images+parsed tables (not the in-memory
    # cache) and overlaps batch k+1's admit/fetch/parse. Unlike
    # pipeline_commits this pins no second heavy cache — the verify input is
    # the just-written parquet — and its output is derived data committed
    # outside the batch marker (trusted via _SUCCESS, repaired on resume by
    # engine/verify.repair_missing_verify). Measured at local[32] on the
    # 860k-URL scaling corpus: the commit barrier drops 12.9 s → ~8 s of an
    # ~18 s steady batch; batch wall is ~unchanged on THIS host because the
    # loop is memory-bus-bound (the verify's bytes stream the same bus
    # either way) — the win here is a halved durability barrier, and on a
    # real cluster (per-node buses) the overlap is throughput. False = the
    # verify is a table write inside the commit barrier (round-3 behavior).
    verify_async: bool = True
    compact_every: int = 64         # full-frontier compaction cadence (batches)
    # Overlap batch k's durability writes with batch k+1's compute on a
    # single-slot background thread. OFF by default: overlapping keeps TWO
    # batches' heavy caches (html + image payloads) resident at once and
    # splits the cores between write and compute jobs — measured on the
    # 860k-URL scaling corpus it cut sustained throughput ~2x at EVERY
    # level (local[2] 1407→706, local[32] 8454→3523 URLs/s) because the
    # loop is memory-bound, not commit-latency-bound. Worth enabling only
    # when commits are genuinely slower than compute AND memory is ample
    # (e.g. slow object-store sinks on a large cluster).
    pipeline_commits: bool = False

    @property
    def burst(self) -> float:
        b = self.capacity if self.capacity is not None else self.batch_seconds / self.delay_s
        if b < 1.0:
            raise ValueError("token bucket burst must be >= 1 (nothing would ever be admitted)")
        return b


@dataclass
class CrawlResult:
    out_dir: str
    final_batch: int
    n_fetched: int
    spark: SparkSession = field(repr=False)
    batch_stats: list[dict] = field(default_factory=list)

    def frontier(self) -> DataFrame:
        return ST.load_snapshot(self.spark, self.out_dir).frontier

    def table(self, name: str, with_batch: bool = False) -> DataFrame | None:
        return ST.read_table(self.spark, self.out_dir, name,
                             max_batch=self.final_batch, with_batch=with_batch)

    def metrics(self) -> DataFrame | None:
        return ST.read_metrics(self.spark, self.out_dir)

    def fetch_order(self) -> DataFrame:
        """Per-host fetch order as data: (host, ord, url, kind). Global order
        across hosts is undefined under parallel crawl (contract: per-host
        order + global seen-set match the single-threaded oracle)."""
        w = Window.partitionBy("host").orderBy(
            F.col("batch_id").asc(), F.col("priority").desc(),
            F.col("discovery_seq").asc(), F.col("url").asc())
        return (
            self.frontier()
            .where(F.col("status") == "fetched")
            .withColumn("ord", F.row_number().over(w))
            .select("host", "ord", "url", "kind", "board", "page_index")
        )

    def url_seen(self) -> DataFrame:
        return self.frontier().where(F.col("status") == "fetched").select("url")


def _priority() -> F.Column:
    board_major = (
        (F.lit(_MAX_BOARD_RANK).cast("long") - F.col("board_rank")) * F.lit(1 << _LOCAL_BITS)
    )
    local = (
        F.when(F.col("kind") == "bootstrap", F.lit(_BOOT_LOCAL))
        .when(F.col("kind") == "index", 2 * F.col("page_index") + 1)
        .otherwise(2 * F.col("page_index"))
    ).cast("long")
    return (board_major + local).cast("long")


def _frontier_row_cols(df: DataFrame) -> DataFrame:
    """Attach hash/host/salt/priority columns. Input columns: url, kind,
    board, board_rank, page_index, dom_pos, discovery_seq."""
    url = FU.canonicalize(F.col("url"))
    return (
        df.withColumn("url", url)
        .withColumn("url_hash", FU.url_hash64(F.col("url")))
        .withColumn("url_hash32", FU.url_hash32(F.col("url")))
        .withColumn("host", FU.host_of(F.col("url")))
        .withColumn("host_salt", FU.host_salt(F.col("host")))
        .withColumn("priority", _priority())
        .withColumn("status", F.lit("pending"))
        .withColumn("retry_count", F.lit(0))
        .withColumn("batch_id", F.lit(-1).cast("long"))
        .select("url", "url_hash", "url_hash32", "host", "host_salt", "kind",
                "board", "board_rank", "page_index", "dom_pos", "priority",
                "discovery_seq", "status", "retry_count", "batch_id")
    )


def seed_frontier(spark: SparkSession, seeds: list[tuple[str, str]]) -> DataFrame:
    """seeds: [(board, index_html_url)] in crawl order → bootstrap rows."""
    rows = [(board, url, rank) for rank, (board, url) in enumerate(seeds)]
    df = spark.createDataFrame(rows, "board string, url string, board_rank long")
    df = (
        df.withColumn("kind", F.lit("bootstrap"))
        .withColumn("page_index", F.lit(-1))
        .withColumn("dom_pos", F.lit(-1))
        .withColumn("discovery_seq", F.lit(0).cast("long"))
    )
    return _frontier_row_cols(df)


def _init_politeness(hosts: DataFrame, cfg: CrawlConfig) -> DataFrame:
    return (
        hosts.select("host").distinct()
        .withColumn("tokens", F.lit(float(cfg.burst)))
        .withColumn("last_refill_seq", F.lit(0).cast("long"))
        .withColumn("delay_s", F.lit(float(cfg.delay_s)))
        .withColumn("robots_rules", F.lit(None).cast("string"))
        .withColumn("robots_fetched_seq", F.lit(None).cast("long"))
    )


def crawl(spark: SparkSession, corpus: DataFrame | None,
          seeds: list[tuple[str, str]],
          out_dir: str, cfg: CrawlConfig | None = None,
          resume: bool = False, fetcher=None) -> CrawlResult:
    """``corpus``: simulated-fetch page table (tests/benches), or None when
    ``fetcher`` is given — a callable admitted-DataFrame → fetched-DataFrame
    (same rows + _html/payload columns), e.g. sources.http_fetch.fetcher_for
    for a REAL network fetch stage.

    Holds the store lock (_LOCK.json) for the whole run: a migration
    (engine/migrate.migrate_state) must never rewrite state dirs under a
    live crawl and vice versa. A brand-new store is stamped at the HEAD
    schema revision before batch 0 (engine/migrate.stamp_new_store), so
    `migrate current` reports the truth and the first migrate is a no-op."""
    from . import migrate as MG

    lock = ST.acquire_lock(out_dir, owner="crawl")
    try:
        # no-op unless the store is genuinely brand-new (no marker AND no
        # committed state) — resume of a pre-revision store keeps the
        # no-marker => r1_initial fallback
        MG.stamp_new_store(out_dir)
        return _crawl_impl(spark, corpus, seeds, out_dir, cfg, resume,
                           fetcher)
    finally:
        ST.release_lock(lock)


def _crawl_impl(spark: SparkSession, corpus: DataFrame | None,
                seeds: list[tuple[str, str]],
                out_dir: str, cfg: CrawlConfig | None = None,
                resume: bool = False, fetcher=None) -> CrawlResult:
    cfg = cfg or CrawlConfig()
    if corpus is None and fetcher is None:
        raise ValueError("need a corpus or a fetcher")
    pages = None if corpus is None else corpus.select(
        "url", "kind", "page_index", F.col("html").alias("_html"),
        "image_bytes", "w", "h", "fmt", "caption", "phash",
    )

    snap = ST.load_snapshot(spark, out_dir) if resume else None
    if snap is not None:
        frontier, politeness, batch_id = snap.frontier, snap.politeness, snap.batch_id
        if cfg.verify_payload:
            # a kill between a batch's _COMMIT marker and its (post-marker,
            # derived) payload_verify write leaves a hole — recompute it
            # from the committed tables before crawling on (idempotent)
            V.repair_missing_verify(spark, out_dir, batch_id)
    else:
        frontier = seed_frontier(spark, seeds)
        politeness = _init_politeness(frontier, cfg)
        batch_id = -1

    heavy_level = _heavy_cache_level(spark)
    bloom = None
    filter_kind = cfg.seen_filter or ("bloom" if cfg.use_bloom else "")
    if filter_kind == "bloom":
        from ..operators import bloom as BL
        bloom = BL.BloomState(cfg.bloom_partitions, cfg.bloom_bits_per_key)
    elif filter_kind == "cuckoo":
        from ..operators import cuckoo as CK
        bloom = CK.CuckooState(cfg.bloom_partitions)
    elif filter_kind:
        raise ValueError(f"unknown seen_filter {filter_kind!r}")
    if bloom is not None and (snap is None or not bloom.load(out_dir, batch_id)):
        bloom.rebuild(frontier.select("url_hash"))

    n_fetched_total = 0
    batches_run = 0
    batch_stats: list[dict] = []
    tm_before = TM.sample(spark) if TM.ENABLED else None
    commit_pool = ThreadPoolExecutor(max_workers=1)   # single-slot: sequential markers
    commit_fut = None
    # this batch's leaves plus the frontier/politeness leaves it started
    # from: freed once the batch's commit (their last reader) has landed
    commit_leaves: list[DataFrame] = []
    verify_pool = ThreadPoolExecutor(max_workers=1)   # single-slot: sequential verify
    verify_fut = None

    def _submit_verify(bid: int) -> None:
        """Queue batch ``bid``'s post-commit verify job. Awaiting the
        previous future first bounds outstanding verify work to one batch
        (backpressure — in steady state verify (~5 s) finishes well inside
        the next batch (~13 s), so the await is normally instant)."""
        nonlocal verify_fut
        if not (cfg.verify_payload and cfg.verify_async):
            return
        if verify_fut is not None:
            verify_fut.result()
        verify_fut = verify_pool.submit(
            V.verify_committed_batch, spark, out_dir, bid)
    # loop-critical jobs (leaf checkpoints) share executors FAIRly with the
    # pipelined commit writes (pool "commit", engine/state.py)
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", "loop")
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    carried: list[DataFrame] = []      # the frontier/politeness leaves
    while batches_run < cfg.max_batches:
        batches_run += 1
        batch_id += 1
        t_batch = time.perf_counter()
        ph = _Phase()
        pending = frontier.where(F.col("status") == "pending")
        if pending.isEmpty():
            batch_id -= 1
            break

        politeness = POL.refill(politeness, cfg.batch_seconds, cfg.burst)
        strict = cfg.start_date is not None
        if cfg.impl == "pandas":
            admission = _leaf(POL.admit_apply_in_pandas(
                pending, politeness, cfg.robots, strict_barrier=strict))
            blocked = admission.where(F.col("robots_blocked")).drop(
                "admit", "robots_blocked")
            marked = admission.drop("robots_blocked")
        else:
            # burst capacity is the literal per-host budget ceiling →
            # WindowGroupLimit hot-host path (admit_window docstring)
            admission = marked = _leaf(POL.admit_window(
                pending, politeness, strict_barrier=strict,
                max_budget=math.ceil(cfg.burst)))
            blocked = None
        admitted = marked.where(F.col("admit")).drop("admit")
        if fetcher is not None:
            # real fetch stage (e.g. HTTP mapInPandas, sources/http_fetch):
            # network I/O happens on executors, politeness already bounded
            # the per-host batch upstream
            fetched = fetcher(admitted)
        else:
            # simulated fetch: URL → page body. The admitted set (bounded by
            # the politeness budget) is broadcast into the corpus scan, so
            # the multi-GB corpus is never shuffled — a single pass with a
            # runtime filter, not a sort-merge join spilling both sides.
            # Scan pruning: the admitted set has page LOCALITY (the discovery
            # barrier admits ~one index page's articles per host per batch),
            # so when the corpus is partitioned by (kind, page_index)
            # (bench.prepare_corpus) a static filter over the batch's
            # distinct (kind, page_index) pairs prunes the scan to the
            # partitions actually being "fetched" — the simulated-network
            # analog of fetch cost scaling with the batch, not the site.
            # The collect is over the aggregated pair set (≤ pages per
            # board), not rows. Corpus contract: an article row's page_index
            # is the index page that lists it (synth/site.py guarantees it).
            pairs = admitted.groupBy("kind", "page_index").count().collect()
            art_pages = sorted({r["page_index"] for r in pairs
                                if r["kind"] == "article"})
            prune = F.lit(False)
            if any(r["kind"] != "article" for r in pairs):
                # bootstrap rows are index.html pages, served as kind=index
                prune = prune | (F.col("kind") == "index")
            if art_pages:
                prune = prune | ((F.col("kind") == "article")
                                 & F.col("page_index").isin(art_pages))
            pages_b = pages.where(prune)
            adm = admitted.withColumn(
                "_page_kind",
                F.when(F.col("kind") == "bootstrap", F.lit("index"))
                .otherwise(F.col("kind")))
            matched = (
                pages_b.drop("page_index")
                .withColumnRenamed("kind", "_page_kind")
                .join(F.broadcast(adm), ["url", "_page_kind"])
                .drop("_page_kind"))
            missing = admitted.join(pages_b.select("url"), "url", "left_anti")
            for c, typ in [("_html", "string"), ("image_bytes", "binary"),
                           ("w", "int"), ("h", "int"), ("fmt", "string"),
                           ("caption", "string"), ("phash", "long")]:
                missing = missing.withColumn(c, F.lit(None).cast(typ))
            fetched = matched.unionByName(missing)
        ph.mark("admit+fetch(lazy)")
        # the batch's single pass over the corpus scan / network fetch
        fetched = _leaf(fetched, heavy_level)
        kc = {r["kind"]: (r["cnt"], r["n_fail"]) for r in (
            fetched.groupBy("kind")
            .agg(F.count("*").alias("cnt"),
                 F.sum(F.when(F.col("_html").isNull(), 1).otherwise(0))
                 .alias("n_fail"))
            .collect())}
        ph.mark("materialize fetched (kind counts)")

        ok = fetched.where(F.col("_html").isNotNull())

        # --- bootstrap → seed the descending index range (F1) --------------
        boot = ok.where(F.col("kind") == "bootstrap")
        new_index = (
            boot.select("board", "board_rank", "url",
                        FP.last_page(F.col("_html")).alias("last"))
            .withColumn("_hi", F.least(F.col("last"), F.lit(cfg.end_index))
                        if cfg.end_index is not None else F.col("last"))
            .select("board", "board_rank", "url",
                    F.explode(F.when(
                        F.col("_hi") >= cfg.start_index,
                        F.sequence(F.lit(cfg.start_index), F.col("_hi")))
                        .otherwise(F.array().cast("array<int>")))
                    .alias("page_index"))
            .select(
                F.concat(
                    F.regexp_extract(F.col("url"), r"^(.*/)index\.html$", 1),
                    F.format_string("index%d.html", F.col("page_index")),
                ).alias("url"),
                F.lit("index").alias("kind"), "board", "board_rank", "page_index",
                F.lit(-1).alias("dom_pos"), F.lit(0).cast("long").alias("discovery_seq"),
            )
        )

        # --- index pages → entries → candidate article URLs (J2 dedupe) ----
        idx = ok.where(F.col("kind") == "index")
        entries = FP.parse_index_pages(
            idx.select("url", "board", "board_rank", "page_index",
                       F.col("_html").alias("html")))
        candidates = entries.select(
            FU.join_url(F.col("url"), F.col("href")).alias("url"),
            F.lit("article").alias("kind"), "board", "board_rank", "page_index",
            "dom_pos", F.col("dom_pos").cast("long").alias("discovery_seq"),
        )
        pre_anti = _frontier_row_cols(candidates.unionByName(new_index))
        # dedupe within the batch (same URL discovered twice), deterministic
        w_url = Window.partitionBy("url").orderBy(
            F.col("priority").desc(), F.col("discovery_seq").asc())
        pre_anti = (
            pre_anti.withColumn("_rn", F.row_number().over(w_url))
            .where(F.col("_rn") == 1).drop("_rn")
        )
        # URL-seen: bloom pre-filter (scale path) + exact check (truth). The
        # exact check FLAGS seen candidates (_seen) instead of dropping them,
        # so one leaf serves both the new rows and the per-host candidate
        # counts of the metrics
        def _flag_seen(rows: DataFrame) -> DataFrame:
            return rows.join(frontier.select(
                "url", F.lit(True).alias("_seen")), "url", "left")

        if bloom is not None:
            maybe_seen, definitely_new = bloom.split(pre_anti)
            discovered = definitely_new.withColumn(
                "_seen", F.lit(None).cast("boolean")).unionByName(
                _flag_seen(maybe_seen))
        else:
            discovered = _flag_seen(pre_anti)
        discovered = _leaf(discovered)
        new_rows = discovered.where(F.col("_seen").isNull()).drop("_seen")
        ph.mark("discover(lazy)")

        # --- article pages → parsed outputs ---------------------------------
        # SINGLE-PASS parse: the multi-KB html column is the batch's dominant
        # byte/CPU stream; articles+pushes+errors+verify-caption are all
        # extracted in ONE scan into a leaf, so each downstream table write
        # reads parsed fields, never raw pages. Measured at local[32]: the
        # split-consumer version re-streamed the cached html 3-4x/batch.
        tables: dict = {}
        art = ok.where(F.col("kind") == "article").withColumn(
            "web_id", FP.web_id_of(F.col("url")))
        parsed_all = _leaf(FP.parse_article_pages(
            art.select("web_id", "board", "page_index", "dom_pos", "url",
                       F.col("_html").alias("html"))), heavy_level)
        ph.mark("materialize parsed (single-pass)")
        # F7: unparseable pages (PostException analog) become status rows
        # in parse_errors; everything downstream sees only parse-ok pages
        # (the reference's per-article try/except skip,
        # crawler/article.py:472-483)
        parse_errors = parsed_all.where(F.col("parse_error").isNotNull()).select(
            "web_id", "board", "url", F.col("parse_error").alias("error"))
        parsed_ok = parsed_all.where(F.col("parse_error").isNull())
        # P4: start-date cutoff + early stop (crawler/article.py:486-503).
        # Unparseable dates drop silently; a parseable date BELOW the cutoff
        # both drops the article and stops that board's crawl at this page
        # (pending lower pages are cancelled below).
        stop_pages = None
        if cfg.start_date is not None:
            dt_ok = F.col("post_datetime").isNotNull()
            cut = F.lit(cfg.start_date)
            stop_pages = (parsed_ok
                          .where(dt_ok & (F.col("post_datetime") < cut))
                          .groupBy("board")
                          .agg(F.min("page_index").alias("_stop_page")))
            parsed_ok = parsed_ok.where(dt_ok & (F.col("post_datetime") >= cut))
        parsed_articles = parsed_ok.drop(
            "parse_error", "pushes", "expected_caption", "url")
        parsed_pushes = FP.pushes_from_parsed(parsed_ok)
        # images/verify read the binary column from the fetched leaf; the
        # parse-ok + date-kept row set arrives as a BROADCAST join against
        # the narrow parsed frame (web_ids + caption), not an html re-scan
        kept = F.broadcast(parsed_ok.select(
            F.col("web_id").alias("image_id"), "expected_caption"))
        art_img = (art.where(F.col("image_bytes").isNotNull())
                   .select(F.col("web_id").alias("image_id"),
                           F.col("image_bytes").alias("bytes"),
                           "w", "h", "fmt", "caption", "phash")
                   .join(kept, "image_id"))
        images = art_img.drop("expected_caption")
        tables["parsed_articles"] = parsed_articles
        tables["parsed_pushes"] = parsed_pushes
        tables["images"] = images
        tables["parse_errors"] = parse_errors
        if cfg.verify_payload and not cfg.verify_async:
            # north-rule per-row invariant: decode + PSNR vs reference
            # render + phash recompute + caption==title, Arrow-batched.
            # (verify_async runs this same stage as a post-commit job over
            # the committed tables instead — see _submit_verify below)
            tables["payload_verify"] = V.verify_payloads(art_img)
        article_index = entries.select(
            F.col("entry_web_id").alias("web_id"), "board",
            F.col("page_index").alias("index"))
        tables["article_index"] = article_index

        # --- frontier DELTA (merge-on-read): O(changes) rows, not O(|frontier|)
        status_override = [
            F.when(F.col("_html").isNotNull(), F.lit("fetched"))
            .otherwise(F.lit("failed")).alias("status")
            if c == "status" else
            F.lit(batch_id).cast("long").alias("batch_id")
            if c == "batch_id" else c
            for c in FRONTIER_COLS
        ]
        changed = fetched.select(*status_override)
        if blocked is not None:
            changed = changed.unionByName(blocked.select(
                *[F.lit("failed").alias("status") if c == "status" else
                  F.lit(batch_id).cast("long").alias("batch_id")
                  if c == "batch_id" else c for c in FRONTIER_COLS]))
        delta_new = new_rows.withColumn("batch_id", F.lit(batch_id).cast("long"))
        if stop_pages is not None:
            # early stop: cancel this board's not-yet-fetched lower pages —
            # both freshly discovered rows and older deferred pending rows
            def _cancel(df: DataFrame) -> DataFrame:
                return (
                    df.join(F.broadcast(stop_pages), "board", "left")
                    .withColumn(
                        "status",
                        F.when((F.col("status") == "pending")
                               & F.col("_stop_page").isNotNull()
                               & (F.col("page_index") < F.col("_stop_page")),
                               F.lit("cancelled"))
                        .otherwise(F.col("status")))
                    .drop("_stop_page")
                )

            delta_new = _cancel(delta_new)
            cancelled_old = (
                _cancel(marked.where(~F.col("admit")).drop("admit"))
                .where(F.col("status") == "cancelled"))
            delta = (changed.unionByName(delta_new.select(*FRONTIER_COLS))
                     .unionByName(cancelled_old.select(*FRONTIER_COLS)))
        else:
            delta = changed.unionByName(delta_new.select(*FRONTIER_COLS))

        n_admitted = admitted.groupBy("host").agg(F.count("*").alias("n_admitted"))
        politeness_next = POL.spend(politeness, n_admitted)
        politeness_next = politeness_next.unionByName(
            _init_politeness(new_rows.join(politeness.select("host"), "host", "left_anti"), cfg)
        ).groupBy("host").agg(
            F.max("tokens").alias("tokens"),
            F.max("last_refill_seq").alias("last_refill_seq"),
            F.max("delay_s").alias("delay_s"),
            F.max("robots_rules").alias("robots_rules"),
            F.max("robots_fetched_seq").alias("robots_fetched_seq"),
        )

        deferred = marked.where(~F.col("admit")).groupBy("host").agg(
            F.count("*").alias("_deferred"))
        # per-partition lineage: deduped = discovered-this-batch minus
        # actually-new, PER HOST (north rule: per-partition lineage/metrics)
        disc_cnt = discovered.groupBy("host").agg(
            F.count("*").alias("_cand"),
            F.count(F.when(F.col("_seen").isNull(), 1)).alias("_new"))
        metrics = (
            fetched.groupBy("host", "host_salt")
            .agg(
                F.sum(F.when(F.col("_html").isNotNull(), 1).otherwise(0)).alias("fetched"),
                F.sum(F.when(F.col("_html").isNull(), 1).otherwise(0)).alias("failed"),
            )
            .join(deferred, "host", "left")
            .join(disc_cnt, "host", "left")
            .withColumn("batch_id", F.lit(batch_id).cast("long"))
            .withColumn("partition_id", F.col("host_salt"))
            .withColumn("deduped",
                        (F.coalesce(F.col("_cand"), F.lit(0))
                         - F.coalesce(F.col("_new"), F.lit(0))).cast("long"))
            .withColumn("deferred", F.coalesce(F.col("_deferred"), F.lit(0)).cast("long"))
            .select("batch_id", "partition_id", "host", "fetched", "deduped",
                    "deferred", "failed")
        )

        if bloom is not None:
            bloom.add(new_rows.select("url_hash"))
            bloom.save(out_dir, batch_id)

        # the commit writes read both leaves, the next frontier the delta and
        # the next batch the politeness: each is computed once, here
        delta = _leaf(delta)
        politeness_next = _leaf(politeness_next)
        ph.mark("plan frontier/politeness/metrics")
        # PIPELINED COMMIT: batch k's durability writes (output tables +
        # state + marker) run on a single-slot background thread while the
        # loop plans and materializes batch k+1 — the loop's only serial
        # dependency between batches is the checkpointed frontier/politeness,
        # not the table writes. Await-before-submit on the one-slot pool
        # keeps commits strictly sequential, so the marker order (= resume
        # order) is exactly the unpipelined one and a crash still leaves at
        # most one uncommitted orphan batch. The leaves a commit reads (this
        # batch's and the frontier/politeness it started from) are freed
        # only when ITS commit completes — one batch later when pipelined.
        # Net effect: steady-state cadence = max(compute, commit) instead of
        # their sum.
        if commit_fut is not None:
            commit_fut.result()
            _release(commit_leaves)
            _submit_verify(batch_id - 1)
            ph.mark("await previous commit")
        # next frontier = merge(delta over current) — the SAME latest-wins
        # semantics state.load_frontier replays from the delta files, so the
        # in-memory path and the resume path agree by construction
        frontier_next = (
            frontier.join(delta.select("url"), "url", "left_anti")
            .unionByName(delta)
        )
        full_due = batch_id % cfg.compact_every == 0
        commit_fut = commit_pool.submit(
            ST.commit_batch, out_dir, batch_id,
            frontier=frontier_next if full_due else None,
            politeness=politeness_next, metrics=metrics,
            tables=tables,
            frontier_delta=None if full_due else delta)
        commit_leaves = carried + [admission, fetched, discovered, parsed_all,
                                   delta]
        # lineage break WITHOUT a parquet round-trip, concurrent with the
        # commit writes: the next batch plans against a compact leaf and
        # plan depth stays O(1) in batch count. (Reliable checkpoint dir on
        # a real cluster.) The explicit repartition pins the partition
        # count — a bare anti-join ∪ delta union would ADD the delta's
        # partitions to the frontier's every batch, growing task counts
        # without bound.
        frontier = _leaf(frontier_next.repartition(n_shuffle, "url"))
        politeness = politeness_next
        carried = [frontier, politeness]
        if not cfg.pipeline_commits:
            # sequential commits (default): the write jobs still overlap the
            # frontier checkpoint above, but the batch does not end until
            # its own commit lands — one batch's heavy leaves resident at a
            # time, all cores on one batch's jobs
            commit_fut.result()
            commit_fut = None
            _release(commit_leaves)
            commit_leaves = []
            # batch N durably committed → its verify runs while batch N+1
            # computes (reads the committed parquet, pins no leaf)
            _submit_verify(batch_id)
        ph.mark("commit submit + checkpoint")
        n_rows = sum(c for c, _ in kc.values())
        stats = {
            "batch_id": batch_id,
            "fetched": n_rows,
            "bootstrap": kc.get("bootstrap", (0, 0))[0] - kc.get("bootstrap", (0, 0))[1],
            "index": kc.get("index", (0, 0))[0] - kc.get("index", (0, 0))[1],
            "article": kc.get("article", (0, 0))[0] - kc.get("article", (0, 0))[1],
            "wall_s": round(time.perf_counter() - t_batch, 3),
            "phase_s": dict(ph.times),
        }
        if TM.ENABLED:
            tm_after = TM.sample(spark)
            d = TM.delta(tm_before, tm_after)
            if d is not None:
                stats["task_metrics"] = d
            # re-arm even when this batch's delta was lost (e.g. the UI
            # wasn't up for the baseline sample) so later batches meter
            if tm_after is not None:
                tm_before = tm_after
        batch_stats.append(stats)
        n_fetched_total += n_rows

    if commit_fut is not None:
        commit_fut.result()
        _release(commit_leaves)
        commit_fut = None
        _submit_verify(batch_id)
    commit_pool.shutdown()
    if verify_fut is not None:
        verify_fut.result()
    verify_pool.shutdown()

    if batch_stats and batch_id % cfg.compact_every != 0:
        # cheap-read compaction: downstream consumers (store/export) read
        # result.frontier() many times — give them a single parquet dir
        # instead of a base+delta merge. Written AFTER the final marker;
        # readers only trust it once _SUCCESS lands (see engine/state doc).
        ST.write_frontier_compaction(out_dir, batch_id, frontier)
    _release(carried)

    return CrawlResult(out_dir=out_dir, final_batch=batch_id,
                       n_fetched=n_fetched_total, spark=spark,
                       batch_stats=batch_stats)


def mark_for_recrawl(spark: SparkSession, out_dir: str, urls,
                     cfg: CrawlConfig | None = None) -> int:
    """--upgrade analog (crawler/article.py:152-157: the seen-skip applies
    only when NOT upgrading): flip the given fetched URLs back to pending in
    a NEW committed snapshot. A subsequent ``crawl(..., resume=True)``
    refetches them, appending fresh rows to the per-batch output tables (the
    SCD-2 history append — old parsed rows stay in their batch directories).

    The URL-seen filter is deliberately NOT touched: the URL remains
    *enqueued* (dedupe is about enqueueing, refetch is about status), so a
    re-discovered link to it must still dedupe away. Deleting from the seen
    set is the job of :func:`purge_urls`.

    ``urls``: DataFrame with a ``url`` column (or list of url strings).
    Returns the number of frontier rows flipped.
    """
    cfg = cfg or CrawlConfig()
    if not isinstance(urls, DataFrame):
        urls = spark.createDataFrame([(u,) for u in urls], "url string")
    snap = ST.load_snapshot(spark, out_dir)
    if snap is None:
        raise ValueError(f"no committed snapshot under {out_dir}")
    urls = urls.select("url").distinct()
    n = (snap.frontier.join(urls, "url", "left_semi")
         .where(F.col("status") == "fetched").count())
    frontier_next = (
        snap.frontier.join(urls.withColumn("_re", F.lit(True)), "url", "left")
        .withColumn(
            "status",
            F.when(F.col("_re") & (F.col("status") == "fetched"), F.lit("pending"))
            .otherwise(F.col("status")))
        .drop("_re")
    )
    new_batch = snap.batch_id + 1
    _carry_filter(out_dir, snap.batch_id, new_batch, cfg)
    ST.commit_batch(out_dir, new_batch, frontier_next, snap.politeness,
                    extra={"recrawl_marked": n})
    return n


def purge_urls(spark: SparkSession, out_dir: str, urls,
               cfg: CrawlConfig | None = None) -> int:
    """Retire URLs entirely: DELETE their frontier rows and remove them from
    the URL-seen filter — the flow the deletable cuckoo variant exists for
    (a Bloom filter cannot un-see, so under seen_filter='bloom' this rebuilds
    the filter from the surviving frontier — correct but a full pass).
    Purged URLs CAN later be re-discovered and re-crawled as brand-new
    frontier rows. Returns the number of rows deleted."""
    cfg = cfg or CrawlConfig()
    if not isinstance(urls, DataFrame):
        urls = spark.createDataFrame([(u,) for u in urls], "url string")
    snap = ST.load_snapshot(spark, out_dir)
    if snap is None:
        raise ValueError(f"no committed snapshot under {out_dir}")
    urls = urls.select("url").distinct()
    doomed = snap.frontier.join(urls, "url", "left_semi")
    n = doomed.count()
    frontier_next = snap.frontier.join(urls, "url", "left_anti")
    filter_kind = cfg.seen_filter or ("bloom" if cfg.use_bloom else "")
    new_batch = snap.batch_id + 1
    if filter_kind == "cuckoo":
        from ..operators import cuckoo as CK
        ck = CK.CuckooState(cfg.bloom_partitions)
        if ck.load(out_dir, snap.batch_id):
            ck.remove(doomed.select("url_hash"))
            ck.save(out_dir, new_batch)
    elif filter_kind == "bloom":
        from ..operators import bloom as BL
        bl = BL.BloomState(cfg.bloom_partitions, cfg.bloom_bits_per_key)
        bl.rebuild(frontier_next.select("url_hash"))
        bl.save(out_dir, new_batch)
    ST.commit_batch(out_dir, new_batch, frontier_next, snap.politeness,
                    extra={"purged": n})
    return n


def _carry_filter(out_dir: str, old_batch: int, new_batch: int,
                  cfg: CrawlConfig) -> None:
    """Copy the seen-filter blobs forward so the new snapshot is complete."""
    filter_kind = cfg.seen_filter or ("bloom" if cfg.use_bloom else "")
    if filter_kind == "cuckoo":
        from ..operators import cuckoo as CK
        st = CK.CuckooState(cfg.bloom_partitions)
    elif filter_kind == "bloom":
        from ..operators import bloom as BL
        st = BL.BloomState(cfg.bloom_partitions, cfg.bloom_bits_per_key)
    else:
        return
    if st.load(out_dir, old_batch):
        st.save(out_dir, new_batch)
