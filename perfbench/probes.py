"""Probes that time one layer through its public functions.

- ``kernel_rate``: a short, Spark-free decode + PSNR + phash loop
  (the same idea as ``scripts/scaling_bench.kernel_ceiling``), recorded
  with the host so results from different hosts are never compared.
- ``kernel_probe``: per-row cost of each verify-kernel step
  (``images`` / ``jpeg``) on a crawl fixture's image rows, Spark-free.
- ``dedup_crossover``: the URL-seen filter path at the
  ``bloom_min_keys`` crossover (500k seen keys), which no crawl
  workload reaches: plain anti-join against Bloom and cuckoo fold plus
  probe, with the prefilter pass ratio and an exactness check.
"""

from __future__ import annotations

import statistics
import time

DEFAULT_DIMS = ((32, 32), (64, 48), (96, 64))  # fixtures.DIM_PROFILES["default"]


def kernel_rate(seconds: float = 1.0) -> float:
    """Rows per second of decode + PSNR + phash in this process."""
    from crawler_spark import images as I

    payloads = [
        (I.encode_image(I.gen_pixels(42, 7 + i, w, h), "png"), w, h)
        for i, (w, h) in enumerate(DEFAULT_DIMS)
    ]
    n, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        data, w, h = payloads[n % 3]
        dec = I.decode_image(data, "png")
        I.psnr(dec, I.gen_pixels(42, 7 + n % 3, w, h))
        I.phash64(dec)
        n += 1
    return n / (time.perf_counter() - t0)


def fixture_image_rows(web_images_path: str, n: int) -> list[dict]:
    """The first ``n`` rows (by image id) of a fixture ``web_images``."""
    import pyarrow.parquet as pq

    t = pq.read_table(web_images_path, columns=["image_id", "bytes", "w", "h", "fmt"])
    rows = sorted(t.to_pylist(), key=lambda r: r["image_id"])[:n]
    return [
        {"k": int(r["image_id"].rsplit("-", 1)[1]), "w": r["w"], "h": r["h"],
         "fmt": r["fmt"], "bytes": r["bytes"]}
        for r in rows
    ]


def kernel_probe(rows: list[dict], seed: int = 42, repeats: int = 3,
                 jpeg_rows: int = 12) -> dict:
    """Milliseconds per row of each verify-kernel step, median over
    ``repeats`` passes.  ``images.decode_lossy_ms`` is the fixture's
    lossy stand-in format; ``jpeg.decode_ms`` decodes real baseline
    JPEG encodings of the same pixels (encoded outside timing)."""
    from crawler_spark import images as I
    from crawler_spark import jpeg as J

    png = [r for r in rows if r["bytes"][:8] == b"\x89PNG\r\n\x1a\n"]
    lossy = [r for r in rows if r not in png]
    jpegs = [J.encode_jpeg(I.gen_pixels(seed, r["k"], r["w"], r["h"]), quality=99)
             for r in rows[:jpeg_rows]]

    def per_row_ms(fn, items) -> float:
        if not items:
            return 0.0
        walls = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            for it in items:
                fn(it)
            walls.append((time.perf_counter() - t0) * 1000.0 / len(items))
        return statistics.median(walls)

    decoded = [(I.decode_image(r["bytes"], r["fmt"]),
                I.gen_pixels(seed, r["k"], r["w"], r["h"])) for r in rows]
    return {
        "images.regen_ms": per_row_ms(lambda r: I.gen_pixels(seed, r["k"], r["w"], r["h"]), rows),
        "images.decode_png_ms": per_row_ms(lambda r: I.decode_png(r["bytes"]), png),
        "images.decode_lossy_ms": per_row_ms(lambda r: I.decode_image(r["bytes"], r["fmt"]), lossy),
        "jpeg.decode_ms": per_row_ms(J.decode_jpeg, jpegs),
        "images.phash_ms": per_row_ms(lambda d: I.phash64(d[0]), decoded),
        "images.psnr_ms": per_row_ms(lambda d: I.psnr(d[0], d[1]), decoded),
    }


def timed_noop(df) -> float:
    """Seconds to force ``df`` completely (a ``noop`` write computes
    every column, unlike ``count``)."""
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def noop_rows(df) -> int:
    """Force ``df`` completely with a ``noop`` write and return its row
    count, observed in the same job."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode(
        "overwrite").save()
    return obs.get["rows"]


def _timed_count(df) -> tuple[float, int]:
    t0 = time.perf_counter()
    n = df.count()
    return time.perf_counter() - t0, n


def dedup_crossover(spark, seed: int, n_seen: int = 500_000,
                    n_candidates: int = 100_000, n_parts: int = 64) -> tuple[dict, bool]:
    """Plain anti-join vs Bloom and cuckoo fold + probe on ``n_seen``
    synthetic seen keys and a fixed candidate set (a tenth of it
    already seen).  Returns ``(metrics, exact)``: ``exact`` is False if
    any path's result row count is not the number of unseen candidates."""
    from pyspark.sql import functions as F

    from crawler_spark.operators import dedup as D
    from crawler_spark.operators import dedup_cuckoo as DC

    def keys(lo: int, hi: int):
        return spark.range(lo, hi).select(
            F.xxhash64(F.col("id"), F.lit(seed)).alias("url_hash"))

    n_hit = n_candidates // 10
    expected = n_candidates - n_hit
    seen = keys(0, n_seen).persist()
    cands = keys(0, n_hit).unionByName(
        keys(n_seen, n_seen + n_candidates - n_hit)).persist()
    seen.count(), cands.count()

    out = {"dedup.probe_candidates": float(n_candidates)}
    out["dedup.plain_s"], n = _timed_count(D.anti_join_seen(cands, seen, None))
    exact = n == expected
    arms = (
        (D, "dedup.bloom_fold_s", "dedup.bloom_probe_s", "dedup.prefilter_pass_ratio"),
        (DC, "dedup_cuckoo.fold_s", "dedup_cuckoo.probe_s",
         "dedup_cuckoo.prefilter_pass_ratio"),
    )
    for mod, fold_key, probe_key, pass_key in arms:
        empty = spark.createDataFrame([], mod.FILTER_STATE_SCHEMA)
        state = mod.update_seen_filters(empty, seen, n_parts).persist()
        out[fold_key], _ = _timed_count(state)
        out[probe_key], n = _timed_count(
            mod.anti_join_seen_partitioned(cands, seen, state, n_parts))
        exact = exact and n == expected
        # probing the candidates against themselves leaves exactly the
        # rows the prefilter called "definitely new"
        passed = n_candidates - mod.anti_join_seen_partitioned(
            cands, cands, state, n_parts).count()
        out[pass_key] = passed / n_candidates
        state.unpersist()
    seen.unpersist(), cands.unpersist()
    return out, exact
