"""Materialize-once crawl loop: every batch intermediate is an eager
localCheckpoint leaf that the loop frees itself, and each batch's phase
timings keep the labels the benchmark's per-layer metrics read.

These pin (a) ``batch_stats[*].phase_s`` carries exactly the phase labels
``perfbench/harness.py`` maps to ``crawl.phase.*`` metrics (a renamed or
dropped label would silently read 0), and (b) a crawl leaves no
checkpoint blocks behind: the persisted-RDD count after ``crawl()`` does
not grow with the number of batches, sequential or pipelined.
"""

from __future__ import annotations

import ast
import shutil
import tempfile

import pytest

from pttcrawler_spark.engine import crawl as C

from conftest import REPO, seeds_for


def _perfbench_phases() -> set[str]:
    """The ``PHASES`` keys of perfbench/harness.py, read without importing
    the benchmark (its modules expect perfbench/ on sys.path)."""
    tree = ast.parse((REPO / "perfbench" / "harness.py").read_text())
    for node in tree.body:
        if (isinstance(node, ast.Assign)
                and getattr(node.targets[0], "id", None) == "PHASES"):
            return set(ast.literal_eval(node.value))
    raise AssertionError("perfbench/harness.py defines no PHASES")


def test_phase_labels_match_perfbench(crawled):
    phases = _perfbench_phases()
    assert len(phases) == 6
    assert crawled.batch_stats
    for b in crawled.batch_stats:
        assert set(b["phase_s"]) == phases, b


@pytest.mark.parametrize("pipeline", [False, True],
                         ids=["sequential", "pipelined"])
def test_leaf_blocks_do_not_leak(spark, site_cfg, corpus_pdf, pipeline):
    corpus = spark.createDataFrame(corpus_pdf)
    jsc = spark.sparkContext._jsc

    def growth(max_batches: int) -> int:
        out = tempfile.mkdtemp(prefix="crawl_leaves_")
        try:
            before = jsc.getPersistentRDDs().size()
            res = C.crawl(spark, corpus, seeds_for(site_cfg), out,
                          C.CrawlConfig(delay_s=2.0, batch_seconds=20.0,
                                        max_batches=max_batches,
                                        pipeline_commits=pipeline))
            assert res.final_batch == max_batches - 1
            return jsc.getPersistentRDDs().size() - before
        finally:
            shutil.rmtree(out, ignore_errors=True)

    two, four = growth(2), growth(4)
    assert four <= two
    assert two <= 0 and four <= 0
