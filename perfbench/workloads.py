"""Workload definitions: what one operation does and on which inputs.

This is the benchmark's own copy. bench.py keeps its SITE_DEFAULT /
SITE_SCALING for its own report; edits there must not change what this
benchmark measures, so nothing here imports bench.py.

Both workloads start from a synthetic site (``synth.site``) and its
reference-faithful oracle crawl. A ``crawl`` workload's operation is a crawl
of that site from scratch with the engine's own ``crawl()`` for
``batches`` micro-batches; its first batch (bootstrap pages only) is the
warm-up and belongs to setup, the batches after it are timed. A ``step``
workload's operation is one scheduling step (frontier.py) over the frontier
a polite crawl of the site holds after ``cut`` batches.

Each workload's inputs depend on the seed only through their content (page
text, images, IPs); their shape — hosts, pages, entries — is fixed, so
every seed does the same amount of work.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str                 # "crawl" or "step"
    why: str
    site: dict                # SiteConfig kwargs
    crawl: dict               # CrawlConfig kwargs
    tiny: dict                # self-test site shape
    batches: int = 0          # crawl: CrawlConfig.max_batches of one operation
    cut: int = 0              # step: batches crawled before the step
    # step: the site of the complete polite crawl its traced run adds for
    # the crawl-loop layers and the report path
    layer_site: dict = field(default_factory=dict)


# The reference's Delaytime (config_example.ini) against an 8 s batch
# clock: a token bucket of 4 URLs per host per batch.
POLITE = {"delay_s": 2.0, "batch_seconds": 8.0}

WORKLOADS = {
    w.name: w for w in (
        Workload(
            name="crawl_payload",
            kind="crawl",
            why=("engine crawls of 2 wide hosts with 64x64 image payloads, "
                 "timed after a warm-up batch: parse, verify and table writes "
                 "run; politeness and bloom stay idle"),
            # 2 hosts x 1 page x 600 entries: the warm-up batch fetches the
            # bootstrap pages, the timed batches the index pages and then
            # one 1,050-article payload batch, which completes the crawl.
            # Delay = submit.py's default (0.01 s): the token bucket never
            # defers anything, and the URL-seen check is the default exact
            # anti-join.
            site={"n_boards": 2, "pages_per_board": 1,
                  "articles_per_page": 600, "img_w": 64, "img_h": 64},
            crawl={"delay_s": 0.01, "batch_seconds": 60.0},
            batches=3,
            tiny={"n_boards": 1, "pages_per_board": 1,
                  "articles_per_page": 6, "img_w": 16, "img_h": 16},
        ),
        Workload(
            name="frontier_polite",
            kind="step",
            why=("scheduling steps over the frontier of a polite crawl of 512 "
                 "narrow hosts (2 s delay, bloom seen filter): admission, the "
                 "filter and commits do the work"),
            # 512 hosts x 4 pages x 8 entries (7 live, 1 deleted), the
            # reference's politeness and the north rule's bloom URL-seen
            # filter (submit.py --seen-filter bloom). After 3 batches every
            # host has fetched its bootstrap page, its newest index page and
            # 4 of that page's articles; the step admits the other 3 and the
            # next index page (the bucket and the discovery barrier both
            # bind), defers 2 index pages per host, and sends the 7 links of
            # each admitted index page through the seen filter.
            site={"n_boards": 512, "pages_per_board": 4,
                  "articles_per_page": 8, "img_w": 8, "img_h": 8},
            crawl={**POLITE, "seen_filter": "bloom"},
            cut=3,
            tiny={"n_boards": 4, "pages_per_board": 2,
                  "articles_per_page": 8, "img_w": 8, "img_h": 8},
            # 8 hosts x 1 page x 4 entries (3 live): a complete 3-batch
            # polite crawl
            layer_site={"n_boards": 8, "pages_per_board": 1,
                        "articles_per_page": 4, "img_w": 32, "img_h": 32},
        ),
    )
}
