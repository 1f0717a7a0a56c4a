"""Correctness gate: every timed operation's outputs against the oracle.

Runs outside the timed region. The engine's outputs are first collected
into plain Python data (``crawl_outputs`` / ``report_outputs``); the checks
are pure functions of that data and the oracle summary, so the self-test
can corrupt a copy of the outputs and watch the gate trip.

Each check function returns a list of failure messages; an operation fails
when its list is non-empty. A crawl may stop before it is complete, so the
crawl check compares the store with the part of the oracle's crawl that the
batches run so far must have done (``expected_fetches``, ``discovered``;
frontier.py derives the step workload's inputs from the same model).
"""

from __future__ import annotations

import glob
import os


# -- crawl ---------------------------------------------------------------

def crawl_outputs(res) -> dict:
    """Per-host fetch order, the frontier's URL set, the parsed web_ids and
    the committed payload_verify rows of one finished crawl."""
    order: dict[str, list[str]] = {}
    for r in res.fetch_order().orderBy("host", "ord").collect():
        order.setdefault(r["host"], []).append(r["url"])
    statuses: dict[str, int] = {}
    urls = []
    for r in res.frontier().select("url", "status").collect():
        urls.append(r["url"])
        statuses[r["status"]] = statuses.get(r["status"], 0) + 1
    pv = res.table("payload_verify")
    verify = ([] if pv is None else
              [r.asDict() for r in pv.select(
                  "image_id", "pixel_ok", "phash_ok", "caption_ok").collect()])
    return {
        "fetch_order": order,
        "frontier_urls": sorted(urls),
        "statuses": statuses,
        "parsed_ids": sorted(r["web_id"] for r in
                             res.table("parsed_articles").select("web_id").collect()),
        "n_images": res.table("images").count(),
        "verify": verify,
    }


def n_fetched(out: dict) -> int:
    return sum(len(v) for v in out["fetch_order"].values())


def expected_fetches(kinds: list[str], batches: int, budget: int) -> int:
    """How many of one host's URLs, in the oracle's fetch order, the engine
    fetches in ``batches`` micro-batches: each batch admits up to ``budget``
    URLs (the token bucket refilled to its burst) and stops after the first
    index or bootstrap page (the discovery barrier), whose links are only
    known once it is fetched."""
    pos = 0
    for _ in range(batches):
        for _ in range(budget):
            if pos == len(kinds):
                return pos
            pos += 1
            if kinds[pos - 1] != "article":
                break
    return pos


def discovered(urls: list[str], kinds: list[str], n: int) -> set[str]:
    """URLs known after fetching the first ``n`` of one host's oracle order:
    the bootstrap page lists every index page, an index page the articles
    that follow it."""
    seen = set(urls[:n])
    for i in range(n):
        if i == 0:
            seen.update(u for u, k in zip(urls, kinds) if k != "article")
        elif kinds[i] != "article":
            j = i + 1
            while j < len(urls) and kinds[j] == "article":
                seen.add(urls[j])
                j += 1
    return seen


def web_id(url: str) -> str:
    return url.rsplit("/", 1)[-1].replace(".html", "")


def check_crawl(out: dict, oracle: dict, batches: int, budget: int) -> list[str]:
    """The store after ``batches`` committed batches against the oracle:
    each host's fetch order is the oracle's, cut where the politeness
    budget and the discovery barrier cut it; the URL-seen set is what those
    fetches discovered, fetched or pending; every fetched article that
    parses in the oracle is parsed; every payload passes verify."""
    errs = []
    want_order: dict[str, list[str]] = {}
    want_seen: set[str] = set()
    for host, urls in oracle["fetch_order"].items():
        kinds = oracle["fetch_kinds"][host]
        n = expected_fetches(kinds, batches, budget)
        want_order[host] = urls[:n]
        want_seen |= discovered(urls, kinds, n)
    got = out["fetch_order"]
    if set(got) != set(want_order):
        errs.append(f"hosts differ: {sorted(set(got) ^ set(want_order))[:3]}")
    for host in sorted(set(got) & set(want_order)):
        if got[host] != want_order[host]:
            errs.append(f"fetch order differs on {host} ({len(got[host])} vs "
                        f"{len(want_order[host])} URLs)")
    if out["frontier_urls"] != sorted(want_seen):
        errs.append(f"URL-seen set differs ({len(out['frontier_urls'])} vs "
                    f"{len(want_seen)} URLs)")
    n_fetched = sum(len(v) for v in want_order.values())
    want_status = {"fetched": n_fetched}
    if len(want_seen) > n_fetched:
        want_status["pending"] = len(want_seen) - n_fetched
    if out["statuses"] != want_status:
        errs.append(f"frontier statuses {out['statuses']} != {want_status}")
    fetched_ids = {web_id(u) for urls in want_order.values() for u in urls}
    want_ids = sorted(fetched_ids & set(oracle["article_ids"]))
    if out["parsed_ids"] != want_ids:
        errs.append(f"parsed articles {len(out['parsed_ids'])} != "
                    f"{len(want_ids)}")
    if len(out["verify"]) != out["n_images"] or not out["verify"]:
        errs.append(f"payload_verify has {len(out['verify'])} rows for "
                    f"{out['n_images']} images")
    bad = [v["image_id"] for v in out["verify"]
           if not (v["pixel_ok"] and v["phash_ok"] and v["caption_ok"])]
    if bad:
        errs.append(f"{len(bad)} payload_verify rows fail, e.g. {bad[0]}")
    return errs


def verify_failed_rows(out: dict) -> int:
    return sum(not (v["pixel_ok"] and v["phash_ok"] and v["caption_ok"])
               for v in out["verify"])


# -- report ----------------------------------------------------------------

def _csv_rows(spark, path: str):
    return (spark.read.option("header", True).option("multiLine", True)
            .csv(path).collect())


def report_outputs(spark, sheet_paths: dict, report_path: str) -> dict:
    rows = {name: len(_csv_rows(spark, p)) for name, p in sheet_paths.items()}
    tallies = {}
    for r in _csv_rows(spark, report_path):
        tallies[r["Type"]] = [int(r["TW Ip"]), int(r["Not TW Ip"])]
    return {"sheet_rows": rows,
            "tallies": tallies.get("Article", []) + tallies.get("Push", [])}


def check_report(out: dict, oracle: dict) -> list[str]:
    errs = []
    want = {"Article": oracle["n_articles"], "Push": oracle["n_pushes"],
            "User": oracle["n_users"]}
    for name, n in want.items():
        got = out["sheet_rows"].get(name)
        if got != n:
            errs.append(f"{name} sheet has {got} rows, oracle {n}")
    if out["tallies"] != oracle["report_tallies"]:
        errs.append(f"TW-IP report {out['tallies']} != "
                    f"{oracle['report_tallies']}")
    return errs


def dir_bytes_and_files(path: str) -> tuple[int, int]:
    """Data bytes and data-file count under ``path`` (Spark's _SUCCESS and
    .crc side files excluded)."""
    n_bytes = n_files = 0
    for f in glob.glob(os.path.join(path, "**", "*"), recursive=True):
        base = os.path.basename(f)
        if os.path.isfile(f) and not base.startswith((".", "_")):
            n_bytes += os.path.getsize(f)
            n_files += 1
    return n_bytes, n_files
