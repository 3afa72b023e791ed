"""The ``crawl_fat`` workload: a few fat, verify-dominated crawl rounds.

Shape of ``scripts/scaling_bench.py``: ``base_budget=512``,
``round_ms=60000``, 16 seeds per host, the ``default`` image dimension
profile.  Round 1 fetches the seed pages, round 2 the pagination they
expand into: the fat round, where fetch, extraction and the per-row
verify UDF take the largest share.  The crawl stops there (the scaling
script's third round fetches only retries, a fixed per-round cost).
A pass is fixed work: one crawl, sized to outlast ``--seconds``.

A run, closed loop on one driver:

1. start the session (JVM launch), write the fixtures from the seed
   (``fixtures.write_fixtures``; untimed, once per run) and construct
   the ``CrawlEngine`` over the fixture tables.  Writing the fixtures
   starts the Python workers and compiles the JVM paths the crawl then
   runs warm on, the same in every run;
2. the pass: ``bootstrap`` then ``run_round`` until the frontier is
   exhausted or ``max_rounds``, each round waiting for the previous;
3. the correctness gate: dispatch log, URL-seen set and result count
   against ``golden.run_golden`` on the same fixture files, and every
   result row's ``phash_ok``;
4. ``SETUPS - 1`` more set-ups, each a session restart plus engine
   construction; ``setup_s`` is the median of all ``SETUPS``, the first
   counting the JVM launch.

The traced run adds spans around the engine's and the state store's
eager public calls, replays the lazy round operators from the store's
time travel, and reads the session's Spark event log.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import time
from dataclasses import dataclass

import host
import probes
import tracing

SETUPS = 3
REPLAY_ROUNDS = (1, 2)  # the seed round and the fat round


@dataclass(frozen=True)
class Size:
    n_seeds: int
    n_hosts: int
    n_images: int
    max_rounds: int
    kernel_rows: int


FULL = Size(n_seeds=192, n_hosts=12, n_images=300, max_rounds=2, kernel_rows=240)
TINY = Size(n_seeds=16, n_hosts=2, n_images=64, max_rounds=2, kernel_rows=24)


def config(size: Size):
    from crawler_spark.engine import CrawlConfig

    return CrawlConfig(base_budget=512, round_ms=60000, max_rounds=size.max_rounds)


def _engine(spark, paths: dict, store_dir: str, cfg):
    from crawler_spark.engine import CrawlEngine
    from crawler_spark.sinks import StateStore

    store = StateStore(spark, store_dir)
    read = spark.read.parquet
    eng = CrawlEngine(spark, store, read(paths["web_pages"]), read(paths["web_images"]),
                      read(paths["robots"]), cfg)
    return eng, store


def _dataset(path: str):
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive")


def gate(store, paths: dict, cfg, rounds: int) -> list[str]:
    """Mismatches between the crawl's store and the golden model."""
    import pyarrow.compute as pc

    from crawler_spark import golden

    g = golden.run_golden(paths["seeds"], paths["web_pages"], paths["robots"],
                          base_budget=cfg.base_budget, round_ms=cfg.round_ms,
                          max_rounds=rounds)
    bad = []
    d = _dataset(os.path.join(store.root, "dispatch_log")).to_table(
        columns=["round", "seq", "url_hash"]).to_pylist()
    log = sorted((r["round"], r["seq"], r["url_hash"]) for r in d)
    if log != sorted(g.dispatch_log):
        bad.append(f"dispatch log: {len(log)} rows vs golden {len(g.dispatch_log)}")
    s = _dataset(os.path.join(store.root, "url_seen")).to_table(
        columns=["url_hash", "first_round"]).to_pylist()
    seen = {r["url_hash"]: r["first_round"] for r in s}
    if len(s) != len(seen) or seen != g.seen:
        bad.append(f"url_seen: {len(s)} rows vs golden {len(g.seen)}")
    res = _dataset(os.path.join(store.root, "results")).to_table(columns=["phash_ok"])
    if res.num_rows != g.n_results:
        bad.append(f"results: {res.num_rows} rows vs golden {g.n_results}")
    n_ok = pc.sum(res["phash_ok"].cast("int64")).as_py() or 0
    if n_ok != res.num_rows:
        bad.append(f"phash_ok: {res.num_rows - n_ok} of {res.num_rows} rows failed")
    return bad


def _store_bytes_files(root: str) -> tuple[int, int]:
    nbytes = nfiles = 0
    for d, _dirs, files in os.walk(root):
        for f in files:
            nbytes += os.path.getsize(os.path.join(d, f))
            nfiles += 1
    return nbytes, nfiles


def run(args, dirs: dict, work: str, tiny: bool) -> dict:
    """One run; returns the e2e metrics (and per-layer ones if traced),
    operation counts, gate errors and the host record."""
    from crawler_spark.fixtures import write_fixtures

    size = TINY if tiny else FULL
    cfg = config(size)
    out = {"attempted": 0, "failed": 0, "errors": []}
    tracer = tracing.Tracer()
    rounds, urls, layer = [], 0, {}

    t0 = time.perf_counter()
    spark = host.start_session(dirs, event_log=args.trace)
    jvm_start = time.perf_counter() - t0
    try:
        out["host"] = host.record(spark, probes.kernel_rate(0.5))
        t0 = time.perf_counter()
        paths = write_fixtures(spark, os.path.join(work, "fixtures"), n_seeds=size.n_seeds,
                               n_hosts=size.n_hosts, n_images=size.n_images,
                               seed=args.seed, dim_profile="default")
        out["fixtures_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        eng, store = _engine(spark, paths, os.path.join(work, "state0"), cfg)
        setups = [jvm_start + time.perf_counter() - t0]

        if args.trace:
            for m in ("write_partition", "commit", "read_frontier",
                      "partition_row_count", "read_partition_column"):
                tracer.wrap(store, m, f"sinks.{m}")
        seeds = spark.read.parquet(paths["seeds"])
        sampler = tracing.RssSampler() if args.trace else contextlib.nullcontext()
        with sampler:
            window0, t0 = time.time(), time.perf_counter()
            try:
                with tracer.scope("engine.bootstrap"):
                    eng.bootstrap(seeds)
                out["bootstrap_s"] = time.perf_counter() - t0
                for r in range(1, cfg.max_rounds + 1):
                    out["attempted"] += 1
                    t1 = time.perf_counter()
                    with tracer.scope("engine.round"):
                        stats = eng.run_round(r)
                    rounds.append(time.perf_counter() - t1)
                    urls += stats["n_dispatched"]
                    if stats["n_dispatched"] == 0 or stats["frontier_rows"] == 0:
                        break
            except Exception as e:  # a raising round is a failed operation
                out["failed"] += 1
                out["errors"].append(f"round {len(rounds) + 1}: {e!r}"[:500])
            pass_s = time.perf_counter() - t0
            window = (window0, time.time())

        if not out["failed"]:
            out["attempted"] += 1  # the gate counts as one operation
            t0 = time.perf_counter()
            bad = gate(store, paths, cfg, len(rounds))
            out["gate_s"] = time.perf_counter() - t0
            out["errors"] += bad
            out["failed"] += bool(bad)
        if args.trace and not out["failed"]:
            layer = _traced_layers(spark, eng, store, cfg, paths, tracer, len(rounds), size, args)
            if not layer.pop("crossover_exact"):
                out["failed"] += 1
                out["errors"].append("dedup crossover: a filter path differs from the plain anti-join")
            layer["session.jvm_start_s"] = jvm_start
            layer["session.peak_rss_mb"] = sampler.peak_mb
        for i in range(1, SETUPS):
            spark.stop()
            t0 = time.perf_counter()
            spark = host.start_session(dirs, event_log=args.trace)
            _engine(spark, paths, os.path.join(work, f"state{i}"), cfg)
            setups.append(time.perf_counter() - t0)
    finally:
        host.shutdown(spark)

    out["pass_s"], out["steps"] = pass_s, rounds
    out["e2e"] = {
        "setup_s": statistics.median(setups),
        "items_per_s": urls / pass_s,
        "step_s_p50": statistics.median(rounds) if rounds else pass_s,
    }
    if layer:
        events = tracing.read_event_log(dirs["events"])
        layer.update(tracing.session_metrics(events, *window))
        starts = tracing.job_starts(events)
        spans = tracer.named("engine.round")
        jobs = [sum(s["start"] <= t <= s["end"] for t in starts) for s in spans]
        layer["engine.jobs_per_round"] = statistics.median(jobs) if jobs else 0
        layer["trace.pass_s"] = pass_s
        out["layer"], out["spans"] = layer, tracer.spans
    return out


def replay_round(spark, eng, store, cfg, k: int) -> dict:
    """Re-run round ``k``'s lazy operators on its committed inputs
    (time travel to ``as_of=k-1``), forcing and timing each on its own
    with a ``noop`` write over cached inputs."""
    from pyspark.sql import functions as F

    from crawler_spark import schemas as S
    from crawler_spark.operators import dedup as D
    from crawler_spark.operators import fetch as FE
    from crawler_spark.operators import frontier as FR
    from crawler_spark.operators import politeness as P
    from crawler_spark.operators import robots as R
    from crawler_spark.operators.ranking import global_sequence

    cached = []

    def keep(df):
        df = df.persist()
        cached.append(df)
        return df, df.count()

    m = {}
    try:
        head = store.read("frontier_head", S.FRONTIER, rewrite=True, as_of=k - 1)
        ranked = P.rank_with_budget(head, eng.robots, cfg.base_budget, cfg.round_ms)
        m["politeness.rank_s"] = probes.timed_noop(ranked)
        ranked, n_ranked = keep(ranked)
        disp_in = ranked.filter(F.col("_dispatch")).drop("_dispatch")
        deferred = ranked.filter(~F.col("_dispatch")).drop("_dispatch")
        dispatch = global_sequence(disp_in, P.ORDER_KEYS, small=True)
        m["ranking.sequence_s"] = probes.timed_noop(dispatch)
        dispatch, n_dispatch = keep(dispatch)
        m["politeness.dispatch_rows"] = n_dispatch
        m["politeness.deferred_rows"] = n_ranked - n_dispatch

        # the engine's own task sizing for the fetch/extract/verify chain
        par = spark.sparkContext.defaultParallelism
        n_parts = max(par, min(par * cfg.max_tasks_per_core,
                               -(-n_dispatch // cfg.pages_per_task)))
        fetched = P.spread_partition(FE.fetch_closed_world(dispatch, eng.web_pages), n_parts)
        m["fetch.join_s"] = probes.timed_noop(fetched)
        fetched, _ = keep(fetched)
        ok, retry, _dead = FE.split_fetch_outcomes(fetched)
        ok, n_ok = keep(ok)
        m["fetch.ok_rows"] = n_ok
        results = FE.extract_results(ok, eng.web_images, k)
        m["fetch.extract_s"] = probes.timed_noop(results)
        results, m["fetch.result_rows"] = keep(results)
        m["fetch.verify_s"] = probes.timed_noop(FE.verify_rows(results, cfg.image_seed))

        expansion = R.tag_robots(FR.expand_pages(ok.filter(F.col("page") == 0), k), eng.robots)
        m["frontier.expand_s"] = probes.timed_noop(expansion)
        expansion, m["frontier.expanded_rows"] = keep(expansion)
        m["robots.blocked_rows"] = expansion.filter(F.col("_blocked")).count()
        allowed, m["dedup.candidate_rows"] = keep(
            FR.dedup_within(expansion.filter(~F.col("_blocked")).drop("_blocked")))
        seen_all = store.read("url_seen", S.URL_SEEN, as_of=k - 1).unionByName(
            ok.select("url_hash", F.lit(k).alias("first_round")))
        fresh = D.anti_join_seen(allowed, seen_all, None)
        m["dedup.anti_join_s"] = probes.timed_noop(fresh)
        fresh, m["dedup.fresh_rows"] = keep(fresh)

        carry = deferred.select(*FR.FRONTIER_COLS).unionByName(
            retry.select(*FR.FRONTIER_COLS))
        merged = carry.unionByName(
            fresh.select(*FR.FRONTIER_COLS).join(carry.select("url_hash"), "url_hash", "left_anti"))
        merged, _ = keep(merged)
        head_out, _demote = FR.split_head(merged, cfg.base_budget * cfg.frontier_compact_every)
        m["frontier.split_head_s"] = probes.timed_noop(head_out)
    finally:
        for df in cached:
            df.unpersist()
    return m


def _traced_layers(spark, eng, store, cfg, paths, tracer, n_rounds, size, args) -> dict:
    import pyarrow.compute as pc

    layer = {}
    # ---- replay of the lazy operators (sums over the replayed rounds)
    rep = {}
    for k in REPLAY_ROUNDS:
        if k <= n_rounds:
            for name, v in replay_round(spark, eng, store, cfg, k).items():
                rep[name] = rep.get(name, 0) + v
    res_rows = rep.pop("fetch.result_rows", 0)
    ok_rows = rep.pop("fetch.ok_rows", 0)
    cand = rep.pop("dedup.candidate_rows", 0)
    fresh = rep.pop("dedup.fresh_rows", 0)
    layer.update(rep)
    layer["fetch.result_rows"] = res_rows
    layer["fetch.ok_ratio"] = ok_rows / max(1, rep.get("politeness.dispatch_rows", 0))
    layer["fetch.verify_ms_per_row"] = 1000.0 * rep.get("fetch.verify_s", 0) / max(1, res_rows)
    layer["dedup.fresh_ratio"] = fresh / cand if cand else 0.0
    ph = _dataset(os.path.join(store.root, "results")).to_table(columns=["phash_ok"])["phash_ok"]
    layer["fetch.phash_ok_ratio"] = (pc.sum(ph.cast("int64")).as_py() or 0) / max(1, len(ph))

    # ---- spans: engine and sinks
    round_spans = tracer.named("engine.round")
    boot = tracer.named("engine.bootstrap")
    layer["engine.bootstrap_s"] = sum(s["end"] - s["start"] for s in boot)
    layer["engine.round_s"] = sum(s["end"] - s["start"] for s in round_spans)
    layer["engine.rounds"] = len(round_spans)
    in_rounds = [s for r in round_spans for s in tracer.children(r["id"], "sinks.")]
    writes = [s for s in in_rounds if s["name"] == "sinks.write_partition"]
    layer["sinks.write_s"] = sum(s["end"] - s["start"] for s in writes)
    layer["sinks.write_calls"] = len(writes)
    layer["sinks.write_phase_s"] = sum(
        tracing.union_s([s for s in writes if s["parent"] == r["id"]]) for r in round_spans)
    for name, key in (("sinks.commit", "sinks.commit_s"),
                      ("sinks.read_frontier", "sinks.read_frontier_s")):
        layer[key] = sum(s["end"] - s["start"] for s in in_rounds if s["name"] == name)
    layer["sinks.footer_stats_s"] = sum(
        s["end"] - s["start"] for s in in_rounds
        if s["name"] in ("sinks.partition_row_count", "sinks.read_partition_column"))
    covered = sum(tracing.union_s(tracer.children(r["id"], "sinks.")) for r in round_spans)
    layer["sinks.round_cover_frac"] = covered / max(1e-9, layer["engine.round_s"])
    nbytes, nfiles = _store_bytes_files(store.root)
    layer["sinks.bytes_written"] = nbytes
    layer["sinks.files_written"] = nfiles
    layer["sinks.bytes_per_result"] = nbytes / max(1, len(ph))

    # ---- Spark-free kernel probe on this workload's own image rows
    layer.update(probes.kernel_probe(probes.fixture_image_rows(paths["web_images"],
                                                               size.kernel_rows)))
    # ---- the URL-seen filter path at the bloom_min_keys crossover
    n_seen = 500_000 if size is FULL else 20_000
    cross, exact = probes.dedup_crossover(spark, args.seed, n_seen=n_seen,
                                          n_candidates=n_seen // 5)
    layer.update(cross)
    layer["crossover_exact"] = exact
    return layer
