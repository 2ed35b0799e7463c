"""The two crawl workloads.

``crawl_full``: the initial crawl of a fresh synthetic funda site at the
reference's 15 listings per search page, empty seen set, default
``CrawlRunner`` config.

``crawl_daily``: the scheduler's active job (``jobs/scheduler.py``) over a
large seen set: ``existing_urls`` holds every site listing except the
newest few per city plus locally generated historical URLs. The per-wave
fixed cost still dominates: the 300k-url history added ~6-8% to the crawl
time on local[4] (2M added ~16%), so seen-filter changes show in the
traced seen.* / bloom.* / cuckoo.* rows rather than end to end.

One client drives the runner in a closed loop: each wave starts when the
previous one has committed. Crawls repeat, each in a fresh warehouse,
until ``--seconds`` of crawl time is spent. Every crawl is checked
against ``synth.reference_sim.simulate_crawl`` outside the clock.
"""

from __future__ import annotations

import shutil
import time
from statistics import median

from .common import Ctx, dir_bytes, quantile, tail_quantile

# (cities, listings per city, historical urls, new listings per city)
SIZES = {
    "crawl_full": {"default": (16, 60, 0, None), "tiny": (2, 30, 0, None)},
    "crawl_daily": {"default": (24, 90, 300_000, 5), "tiny": (2, 45, 2_000, 3)},
}
WARMUP_SIZE = (2, 30)
PAGE_SIZE = 15  # the reference's listings per search page
HIST_PREFIX = "https://www.funda.nl/detail/koop/archief-{seed}/huis-"


# ---- inputs --------------------------------------------------------------------
def build_inputs(spark, ctx: Ctx, cities: int, listings: int, hist: int,
                 new_per_city: int | None, seed: int, tag: str):
    """The synthetic site, its cached web table and (daily) the pre-seen
    url table, materialized as parquet the program reads."""
    from pyspark.sql import functions as F

    from fundamental_spark.synth.site import build_site, web_rows

    site = build_site(
        seed=seed,
        cities=tuple(f"city{i:03d}" for i in range(cities)),
        listings_per_city=listings,
        page_size=PAGE_SIZE,
    )
    web = spark.createDataFrame(web_rows(site), "url string, html string")
    web = web.repartition(spark.sparkContext.defaultParallelism).cache()
    web.count()
    if new_per_city is None:
        return site, web, set(), None
    # every listing except the newest ``new_per_city`` of each city (the
    # site lists newest first) was seen by yesterday's crawl
    pre_seen = {
        u
        for c in site.cities
        for i, (_, urls) in enumerate(site.pages_by_city[c])
        for u in (urls[new_per_city:] if i == 0 else urls)
    }
    hist_urls = spark.range(hist, numPartitions=spark.sparkContext.defaultParallelism).select(
        F.concat(F.lit(HIST_PREFIX.format(seed=seed)), F.col("id").cast("string"),
                 F.lit("/")).alias("url")
    )
    site_urls = spark.createDataFrame([(u,) for u in sorted(pre_seen)], "url string")
    path = ctx.path(f"pre_seen_{tag}")
    hist_urls.unionByName(site_urls).write.mode("overwrite").parquet(path)
    return site, web, pre_seen, spark.read.parquet(path)


# ---- one crawl -----------------------------------------------------------------
class Crawl:
    """One closed-loop crawl from ``init`` until the frontier drains."""

    def __init__(self, spark, site, web, existing, root: str) -> None:
        from fundamental_spark.crawl.runner import CrawlRunner

        shutil.rmtree(root, ignore_errors=True)
        self.root = root
        self.runner = CrawlRunner(spark=spark, warehouse_root=root, web=web)
        self.seeds = [(site.search_url(c, 1), c) for c in site.cities]
        self.existing = existing
        self.wave_end: dict[int, float] = {}
        self.versions: dict[int, dict] = {}

    def run(self) -> float:
        r = self.runner
        t0 = time.perf_counter()
        r.init(self.seeds, existing_urls=self.existing)
        self.versions[0] = dict(r._versions)
        while r.step():
            self.wave_end[r.wave] = time.perf_counter() - t0
            self.versions[r.wave] = dict(r._versions)
        self.elapsed = time.perf_counter() - t0
        return self.elapsed

    # outputs, read back outside the clock
    def outputs(self) -> dict:
        r = self.runner
        pages = sum(m["pages_fetched"] for m in r.table("wave_metrics").collect())
        return {
            "pages": pages,
            "seen": {row["url"] for row in r.table("url_seen")
                     .filter("first_seen_wave >= 0").select("url").collect()},
            "log": [tuple(row) for row in r.table("crawl_log").select(
                "url", "city", "discovered_on_page", "priority", "page_pos").collect()],
            "docs": {
                row["doc_id"]: (row["wave"], [(s["kind"], s["text"], s["media_ref"], s["offset"])
                                              for s in row["spans"]])
                for row in r.table("documents").collect()
            },
            "bytes": dir_bytes(self.root),
        }


def check(out: dict, sim) -> tuple[int, int]:
    """(attempted, failed): one operation per listing the reference
    simulation expects, failing when it is missing, extra, out of
    canonical order or carries the wrong span sequence — the predicate
    of the crawl-equivalence tests, counted per listing — plus one for
    the sequence of search pages visited."""
    sim_log = {u: (c, d, p, pos) for (u, k, d, p, pos, c) in sim.crawl_log}
    run_log: dict[str, list] = {}
    for (u, c, d, p, pos) in out["log"]:
        run_log.setdefault(u, []).append((c, d, p, pos))
    expected = sim.seen_urls
    failed = 0
    for u in expected:
        ok = u in out["seen"] and run_log.get(u) == ([sim_log[u]] if u in sim_log else None)
        if u in sim.spans_by_doc:
            ok = ok and u in out["docs"] and out["docs"][u][1] == sim.spans_by_doc[u]
        else:
            ok = ok and u not in out["docs"]
        failed += not ok
    extra = (out["seen"] | set(out["docs"])) - expected
    # search pages: the same page urls visited, each once and in the
    # same canonical slot
    search = sorted((u, v) for u, v in sim_log.items() if u not in expected)
    run_search = sorted((u, v[0]) for u, v in run_log.items() if u not in expected and len(v) == 1)
    run_search += [(u, None) for u, v in run_log.items() if u not in expected and len(v) != 1]
    failed += search != run_search
    return len(expected) + len(extra) + 1, failed + len(extra)


def corrupt(out: dict, how: str) -> None:
    """Self-test hook: damage the read-back output the way a bug would."""
    if how == "drop_doc":
        out["docs"].pop(sorted(out["docs"])[0])
    else:
        raise ValueError(f"unknown corruption {how!r} for a crawl workload")


# ---- the workload ----------------------------------------------------------------
def run(ctx: Ctx, spark) -> None:
    from fundamental_spark.synth.reference_sim import simulate_crawl

    cities, listings, hist, new_per_city = SIZES[ctx.workload][ctx.size]
    daily = new_per_city is not None
    t0 = time.perf_counter()
    # warm-up: a small whole crawl of the same shape, outside the clock
    # (stopping it after two waves left the timed crawl ~5% slower)
    w_site, w_web, _, w_seen = build_inputs(
        spark, ctx, *WARMUP_SIZE, min(hist, 1000), new_per_city, ctx.seed + 7919, "warmup")
    Crawl(spark, w_site, w_web, w_seen, ctx.path("wh_warmup")).run()
    w_web.unpersist()
    t1 = time.perf_counter()
    site, web, pre_seen, seen_df = build_inputs(
        spark, ctx, cities, listings, hist, new_per_city, ctx.seed, "main")
    ctx.info["setup_parts_s"] = {"spark": round(ctx.t_spark - ctx.t_start, 3),
                                 "warmup": round(t1 - t0, 3),
                                 "inputs": round(time.perf_counter() - t1, 3)}

    tracer = None
    if ctx.trace:
        from . import layers

        tracer = layers.install_crawl(spark, ctx)
    setup_s = time.perf_counter() - ctx.t_start

    crawls: list[Crawl] = []
    spent = 0.0
    while not crawls or spent < ctx.seconds:
        c = Crawl(spark, site, web, seen_df, ctx.path(f"wh{len(crawls) % 2}"))
        spent += c.run()
        c.out = c.outputs()  # read back before the next crawl reuses the dir
        crawls.append(c)
    if tracer is not None:
        tracer.uninstall()

    sim = simulate_crawl(site, "active", existing_urls=pre_seen)
    lat, rates, bpp = [], [], []
    for i, c in enumerate(crawls):
        if ctx.corrupt and i == 0:
            corrupt(c.out, ctx.corrupt)
        a, f = check(c.out, sim)
        ctx.attempted += a
        ctx.failed += f
        rates.append(c.out["pages"] / c.elapsed)
        bpp.append(c.out["bytes"] / max(c.out["pages"], 1))
        lat += [c.wave_end[w] for (w, _) in c.out["docs"].values()]
    q_tail = tail_quantile(len(lat), 0.99)
    # the scored end-to-end metrics, then the same numbers under their
    # crawl names (printed, not scored)
    ctx.put("setup_s", setup_s, "s")
    ctx.put("ops_per_s", median(rates), "1/s")
    ctx.put("latency_p50_s", quantile(lat, 0.5), "s")
    ctx.put("latency_tail_s", quantile(lat, q_tail), "s")
    ctx.put("crawl_pages_per_s", median(rates), "1/s")
    ctx.put("listing_latency_p50_s", quantile(lat, 0.5), "s")
    ctx.put("listing_latency_tail_s", quantile(lat, q_tail), "s")
    ctx.put("warehouse_bytes_per_page", median(bpp), "bytes")
    ctx.info.update({
        "crawls": len(crawls),
        "crawl_s": [round(c.elapsed, 3) for c in crawls],
        "waves": len(crawls[-1].wave_end),
        "pages_per_crawl": crawls[-1].out["pages"],
        "listings_per_crawl": len(crawls[-1].out["docs"]),
        "listing_latency_samples": len(lat),
        "listing_latency_tail_q": round(q_tail, 4),
        "url_seen_rows": (hist + len(pre_seen)) if daily else 0,
        # the bloom/cuckoo prefilter is gated on the runner's seen_count,
        # which counts only this run's discoveries, never existing_urls
        "runner_seen_count": crawls[-1].runner.seen_count,
        "runner_bloom_min_seen": crawls[-1].runner.bloom_min_seen,
    })
    if tracer is not None:
        from . import layers

        layers.crawl_layers(ctx, spark, tracer, crawls, web)
