"""Self-test at tiny input sizes: ``python3 perfbench/run.py --selftest``.

Checks, in one Spark session:

1. every workload emits exactly the end-to-end metrics of BENCHMARK.json
   untraced and exactly its per-layer metrics traced, each with its unit,
   and the gate passes at this commit;
2. the gate trips on corrupted outputs: one fetched URL dropped from a copy
   of a crawl's frontier, one payload_verify row flipped, one report tally
   changed, one admitted URL dropped from a step's committed delta — each
   must give ops_failed_ratio > 0;
3. the step workload's derived frontier is the one an engine crawl of the
   same site commits after as many batches, and a row missing from it
   shows.

Prints one line per check and exits non-zero on the first failure.
"""

from __future__ import annotations

import copy
import json
import shutil
from pathlib import Path

import corpus as CP
import frontier as FR
import gate as G
import harness
from workloads import WORKLOADS


class SelfTestFailure(Exception):
    pass


def _expect(cond: bool, what: str) -> None:
    print(f"selftest: {'ok  ' if cond else 'FAIL'} {what}", flush=True)
    if not cond:
        raise SelfTestFailure(what)


def _failed_ratio(errs_per_op: list[list[str]]) -> float:
    return sum(bool(e) for e in errs_per_op) / len(errs_per_op)


def _check_metrics(result: dict, spec: list[dict], what: str) -> None:
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    _expect(got == want, f"{what}: metric names and units match BENCHMARK.json"
            + ("" if got == want else f" (missing {sorted(set(want) - set(got))},"
               f" extra {sorted(set(got) - set(want))},"
               f" unit {sorted(k for k in want if k in got and got[k] != want[k])})"))
    _expect(result["correct"] and result["failed"] == 0,
            f"{what}: gate passes ({result['failed']}/{result['attempted']} failed)")


def _corrupt_crawl(spark, work: Path) -> None:
    wl = next(w for w in WORKLOADS.values() if w.kind == "crawl")
    p = CP.prepare(work, "selftest", wl.tiny, 1)
    runs_dir = work / "runs" / "selftest"
    ops = harness.CrawlOps(spark, p, wl.crawl, wl.batches)
    res = ops.run(str(runs_dir / "crawl"))
    out, errs = ops.gate(runs_dir, 0, {"res": res})
    _expect(errs == [], "crawl outputs pass the gate")

    def check(o):
        return G.check_crawl(o, p.oracle, res.final_batch + 1, ops.budget)

    dropped = copy.deepcopy(out)
    host = sorted(dropped["fetch_order"])[0]
    url = dropped["fetch_order"][host].pop()
    dropped["frontier_urls"].remove(url)
    ratio = _failed_ratio([check(out), check(dropped)])
    _expect(ratio > 0, f"dropping one fetched URL trips the gate "
                       f"(ops_failed_ratio {ratio})")

    flipped = copy.deepcopy(out)
    flipped["verify"][0]["pixel_ok"] = False
    _expect(check(flipped) != [], "a failing payload_verify row trips the gate")

    rep = {"sheet_rows": {"Article": p.oracle["n_articles"],
                          "Push": p.oracle["n_pushes"],
                          "User": p.oracle["n_users"]},
           "tallies": list(p.oracle["report_tallies"])}
    _expect(G.check_report(rep, p.oracle) == [], "oracle-shaped report passes")
    rep["tallies"][0] += 1
    _expect(G.check_report(rep, p.oracle) != [],
            "a changed TW-IP tally trips the gate")
    shutil.rmtree(runs_dir, ignore_errors=True)


def _corrupt_step(spark, work: Path) -> None:
    wl = next(w for w in WORKLOADS.values() if w.kind == "step")
    p = CP.prepare(work, "selftest-step", wl.tiny, 1)
    runs_dir = work / "runs" / "selftest"
    ops = harness.StepOps(spark, p, wl.crawl, wl.cut, runs_dir)
    ops.stepper.step(str(runs_dir / "steps"), 0)
    out, errs = ops.gate(runs_dir, 0, {})
    _expect(errs == [], "step outputs pass the gate")
    dropped = copy.deepcopy(out)
    dropped["admitted"].pop()
    ratio = _failed_ratio([errs, FR.check_step(dropped, ops.backlog)])
    _expect(ratio > 0, f"dropping one admitted URL trips the gate "
                       f"(ops_failed_ratio {ratio})")
    ops.stepper.close()

    # the derivation: a real polite crawl of the same site must commit the
    # derived frontier; one dropped pending row must show
    crawl = harness.CrawlOps(spark, p, wl.crawl, wl.cut)
    res = crawl.run(str(runs_dir / "crawl"))
    _expect(FR.check_derived(spark, ops.backlog, res.out_dir, wl.cut - 1) == [],
            f"the derived frontier is the engine's after {wl.cut} batches")
    short = copy.copy(ops.backlog)
    short.pending = short.pending.iloc[1:]
    _expect(FR.check_derived(spark, short, res.out_dir, wl.cut - 1) != [],
            "a pending row missing from the derived frontier trips the check")
    shutil.rmtree(runs_dir, ignore_errors=True)


def main(work: Path) -> int:
    with open(Path.cwd() / "BENCHMARK.json") as fh:
        spec = json.load(fh)
    _expect({w["name"] for w in spec["workloads"]} == set(WORKLOADS),
            "BENCHMARK.json lists exactly the defined workloads")
    spark = harness.start_session(work, ui=True)
    try:
        for name, wl in WORKLOADS.items():
            for trace in (False, True):
                r = harness.run(name, 1, 0, trace, work, site=wl.tiny,
                                spark=spark)
                _check_metrics(r, spec["per_layer" if trace else "end_to_end"],
                               f"{name} trace={int(trace)}")
        _corrupt_crawl(spark, work)
        _corrupt_step(spark, work)
    except SelfTestFailure:
        return 1
    finally:
        harness.stop_session(spark)
    print("selftest: all checks passed")
    return 0
