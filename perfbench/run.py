"""crawler_spark benchmark: one command, end-to-end or traced.

    python3 perfbench/run.py --workload crawl_fat --seed 1 --seconds 10 --trace 0

Run from the repository root.  Workloads (``BENCHMARK.json``):

- ``crawl_fat`` (crawl.py): a crawl of two fat rounds on fixtures
  generated from ``--seed``, gated against the golden crawl model;
- ``query_suite`` (queries.py): headline queries, gated against pinned
  row counts.

With ``--trace 0`` the last stdout line carries the end-to-end metrics,
the same three on every workload:

- ``setup_s``: set-up before the first measured step.  For the crawl,
  the median of three session starts plus ``CrawlEngine`` construction
  over the fixture tables; only the first launches the JVM
  (``session.jvm_start_s`` in the traced run).  For the query suite,
  the session start plus the cold first pass over the suite;
- ``items_per_s``: URLs dispatched per second of the crawl (bootstrap
  plus rounds), or queries completed per second of the warm query pass;
- ``step_s_p50``: median wall of one closed-loop step, a crawl round or
  one query.

``--trace 1`` is a separate run that prints the per-layer metrics
instead: spans around public calls, a replay of the lazy crawl
operators, the Spark-free kernel probe, the dedup crossover probe and
Spark event-log totals (crawl.py, probes.py, tracing.py).  Layers a
workload does not run report 0.  The tracing overhead is reported on a
``NOTE`` line and in the report, not as a metric: it compares the
traced pass with the passes of earlier untraced, passing, full-size
runs of the same workload on the same source files in this checkout,
and is left out when there are none.

Every run prints a ``HOST`` line (cores, RAM, Java and library
versions, a kernel rate) before the result, and writes a report with
the spans under ``.perfbench_work/``.  A failed operation or gate check
exits 1 after the result line; ``--tiny`` shrinks every workload for
the smoke test (test_smoke.py).
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E_UNITS = {"setup_s": "s", "items_per_s": "1/s", "step_s_p50": "s"}

_LAYER_UNITS = {
    "session.jvm_start_s": "s", "session.peak_rss_mb": "MB", "session.gc_s": "s",
    "session.shuffle_bytes": "bytes", "session.spill_bytes": "bytes",
    "session.task_skew": "ratio",
    "trace.pass_s": "s",
    "host.kernel_rows_per_s": "1/s",
    "images.regen_ms": "ms", "images.decode_png_ms": "ms", "images.decode_lossy_ms": "ms",
    "jpeg.decode_ms": "ms", "images.phash_ms": "ms", "images.psnr_ms": "ms",
    "engine.bootstrap_s": "s", "engine.round_s": "s", "engine.rounds": "count",
    "engine.jobs_per_round": "count",
    "sinks.write_s": "s", "sinks.write_phase_s": "s", "sinks.write_calls": "count",
    "sinks.commit_s": "s", "sinks.read_frontier_s": "s", "sinks.footer_stats_s": "s",
    "sinks.bytes_written": "bytes", "sinks.files_written": "count",
    "sinks.bytes_per_result": "B/row", "sinks.round_cover_frac": "ratio",
    "politeness.rank_s": "s", "ranking.sequence_s": "s",
    "politeness.dispatch_rows": "count", "politeness.deferred_rows": "count",
    "fetch.join_s": "s", "fetch.ok_ratio": "ratio", "fetch.extract_s": "s",
    "fetch.result_rows": "count", "fetch.verify_s": "s", "fetch.verify_ms_per_row": "ms",
    "fetch.phash_ok_ratio": "ratio",
    "frontier.expand_s": "s", "frontier.split_head_s": "s",
    "frontier.expanded_rows": "count", "robots.blocked_rows": "count",
    "dedup.anti_join_s": "s", "dedup.fresh_ratio": "ratio",
    "dedup.probe_candidates": "count", "dedup.plain_s": "s",
    "dedup.bloom_fold_s": "s", "dedup.bloom_probe_s": "s",
    "dedup.prefilter_pass_ratio": "ratio",
    "dedup_cuckoo.fold_s": "s", "dedup_cuckoo.probe_s": "s",
    "dedup_cuckoo.prefilter_pass_ratio": "ratio",
}


def layer_units() -> dict[str, str]:
    """Every per-layer metric with its unit (query names from the suite)."""
    import queries

    return {**_LAYER_UNITS, **{f"query.{n}_s": "s" for n in queries.suite(tiny=False)}}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("crawl_fat", "query_suite"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="smoke-test sizes")
    p.add_argument("--expected", help="pinned query row counts (default: expected_counts.json)")
    return p.parse_args(argv)


def _source_digest() -> str:
    """Digest of the code a run executes: the package, ``bench.py``
    and the benchmark's own modules."""
    files = sorted(glob.glob(os.path.join(ROOT, "crawler_spark", "**", "*.py"), recursive=True)
                   + [os.path.join(ROOT, "bench.py")]
                   + glob.glob(os.path.join(HERE, "*.py")))
    h = hashlib.sha256()
    for path in files:
        h.update(os.path.relpath(path, ROOT).encode() + b"\0")
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _history_path(base: str) -> str:
    return os.path.join(base, "history.jsonl")


def _record_pass(base: str, key: dict, pass_s: float) -> None:
    with open(_history_path(base), "a") as f:
        f.write(json.dumps({**key, "pass_s": pass_s}) + "\n")


def _untraced_passes(base: str, key: dict) -> list[float]:
    """Pass walls of the untraced runs recorded under ``key``."""
    if not os.path.exists(_history_path(base)):
        return []
    with open(_history_path(base)) as f:
        rows = [json.loads(line) for line in f if line.strip()]
    return [r["pass_s"] for r in rows if all(r.get(k) == v for k, v in key.items())]


def main(argv=None) -> int:
    args = _parse(argv)
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        import host

        dirs = host.prepare(ROOT, work)
        sys.path.insert(0, ROOT)
        import crawl
        import queries

        run = {"crawl_fat": crawl.run, "query_suite": queries.run}[args.workload]
        out = run(args, dirs, work, args.tiny)
    except Exception:
        traceback.print_exc()
        return 2
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # baseline for the tracing overhead: full-size runs of this code only
    key = {"workload": args.workload, "source": _source_digest()}
    overhead = None
    if args.trace:
        units = layer_units()
        values = {k: 0.0 for k in units}  # layers this workload does not run
        values.update(out.get("layer", {}))
        values["host.kernel_rows_per_s"] = out["host"]["kernel_rows_per_s"]
        values = {k: v for k, v in values.items() if k in units}
        untraced = [] if args.tiny else _untraced_passes(base, key)
        if untraced:
            overhead = {"frac": out["pass_s"] / statistics.median(untraced) - 1,
                        "untraced_runs": len(untraced)}
    else:
        if not args.tiny and out["failed"] == 0:
            _record_pass(base, key, out["pass_s"])
        units, values = E2E_UNITS, out["e2e"]

    report = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "host": out["host"], "metrics": values, "errors": out["errors"],
              "pass_s": out["pass_s"], "steps": out["steps"], "trace_overhead": overhead,
              **{k: out[k] for k in ("bootstrap_s", "fixtures_s", "gate_s", "cold_pass_s") if k in out},
              "spans": out.get("spans", [])}
    name = f"report-{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(base, name), "w") as f:
        json.dump(report, f, indent=1)

    print("HOST " + json.dumps(out["host"]))
    for e in out["errors"]:
        print("FAILED " + e)
    if overhead is not None:
        print(f"NOTE tracing overhead {overhead['frac']:+.1%}: traced pass "
              f"{out['pass_s']:.2f} s against the median of {overhead['untraced_runs']} "
              "untraced passes of this code")
    elif args.trace:
        print("NOTE tracing overhead not reported: no untraced, passing, full-size "
              "run of this workload and code in this checkout")
    if args.trace and args.workload == "crawl_fat" and "layer" in out:
        print(f"NOTE sinks spans cover {values['sinks.round_cover_frac']:.1%} of "
              f"engine.round_s ({values['engine.round_s']:.2f} s)")
    metrics = {
        k: {"value": float(v) if math.isfinite(v) else 0.0, "unit": units[k]}
        for k, v in values.items()
    }
    correct = out["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
