"""Corpus and oracle per (workload, seed), cached in the benchmark's work dir.

The corpus is the synthetic site the engine "fetches" from (one parquet
dataset partitioned by kind/page_index, like bench.prepare_corpus); the
oracle is the reference-faithful single-threaded simulator's view of the
same site, reduced to what the correctness gate compares: per-host fetch
order (with each fetched page's kind), the URL-seen set, and the
relational tables' row counts plus the TW-IP report tallies.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass
from pathlib import Path


CACHE_FORMAT = 2   # bump when oracle_summary's fields change


@dataclass
class Prepared:
    corpus_dir: str
    oracle: dict
    seeds: list                 # [(board, index.html url)] in crawl order


def seed_urls(cfg) -> list[tuple[str, str]]:
    return [(cfg.board_name(b),
             f"{cfg.base_url(cfg.board_name(b))}/bbs/{cfg.board_name(b)}/index.html")
            for b in range(cfg.n_boards)]


def _report_tallies(tables: dict, board_name: str) -> list[int]:
    """[article TW, article not-TW, push TW, push not-TW] for the board:
    query.tw_ip_report's semantics (inner ASN join, latest history per
    article) recomputed over the oracle's tables."""
    from pttcrawler_spark.engine.store import synth_asn_lookup
    asn_cc = {ip: synth_asn_lookup(ip)["asn_country_code"]
              for ip in tables["ip_asn"]["ip"]}
    board_id = int(tables["board"].set_index("name")["id"][board_name])
    arts = tables["article"]
    arts = arts[arts.board_id == board_id]
    latest = tables["article_history"].groupby("article_id")["id"].max()
    a_tw = a_not = p_tw = p_not = 0
    hist_ids = set()
    for a in arts.itertuples():
        if a.post_ip not in asn_cc:
            continue
        hist_ids.add(int(latest[a.id]))
        if asn_cc[a.post_ip] == "TW":
            a_tw += 1
        else:
            a_not += 1
    for p in tables["push"].itertuples():
        if p.article_history_id in hist_ids and p.push_ip in asn_cc:
            if asn_cc[p.push_ip] == "TW":
                p_tw += 1
            else:
                p_not += 1
    return [a_tw, a_not, p_tw, p_not]


def oracle_summary(corpus_pdf, cfg) -> dict:
    from pttcrawler_spark.oracle.simulator import run_oracle
    sim = run_oracle(corpus_pdf, cfg)
    order: dict[str, list[str]] = {}
    kinds: dict[str, list[str]] = {}
    for ev in sim.fetch_events:
        order.setdefault(ev["host"], []).append(ev["url"])
        kinds.setdefault(ev["host"], []).append(ev["kind"])
    t = sim.tables()
    return {
        "fetch_order": order,
        "fetch_kinds": kinds,
        "url_seen": sorted(sim.url_seen),
        "n_articles": len(t["article"]),
        "article_ids": sorted(t["article"]["web_id"]),
        "n_pushes": len(t["push"]),
        "n_users": len(t["user"]),
        "report_board": cfg.board_name(0),
        "report_tallies": _report_tallies(t, cfg.board_name(0)),
    }


def write_corpus(corpus_pdf, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq
    shutil.rmtree(path, ignore_errors=True)
    pq.write_to_dataset(pa.Table.from_pandas(corpus_pdf, preserve_index=False),
                        path, partition_cols=["kind", "page_index"])


def prepare(work: Path, workload: str, site: dict, seed: int) -> Prepared:
    """Generate (or reuse) the corpus and the oracle for one seed. A cache
    entry is keyed by workload, seed and the exact site shape, and only
    trusted once its oracle file (written last) exists."""
    from pttcrawler_spark.synth.site import SiteConfig, generate_site_pandas
    cfg = SiteConfig(seed=seed, **site)
    key = json.dumps({"site": site, "format": CACHE_FORMAT}, sort_keys=True)
    shape = hashlib.sha256(key.encode()).hexdigest()[:12]
    d = work / "cache" / f"{workload}-{seed}-{shape}"
    corpus_dir, oracle_path = str(d / "corpus"), d / "oracle.json"
    if oracle_path.exists():
        with open(oracle_path) as fh:
            oracle = json.load(fh)
    else:
        d.mkdir(parents=True, exist_ok=True)
        pdf = generate_site_pandas(cfg)
        write_corpus(pdf, corpus_dir)
        oracle = oracle_summary(pdf, cfg)
        tmp = str(oracle_path) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(oracle, fh)
        os.replace(tmp, oracle_path)
    return Prepared(corpus_dir=corpus_dir, oracle=oracle, seeds=seed_urls(cfg))
