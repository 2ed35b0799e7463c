"""Per-layer metrics of the ``--trace 1`` run: which calls are wrapped,
how the lazy layers are replayed, and how spans and Spark stage metrics
become the ``per_layer`` numbers listed in BENCHMARK.json.

Layer names are module names. A layer a workload never calls reports 0
(no calls, no time, no bytes) on that workload.

Which end-to-end metric each layer should move, and where:

- ``runner.*``, ``tableformat.*``, ``docsink.*``, ``parse.*``,
  ``politeness.*``: ops_per_s and latency_* on crawl_daily; never on
  query_mix.
- ``seen.*``, ``bloom.*``, ``cuckoo.*``: ops_per_s and latency_* on
  crawl_daily, where the seen set is large (the bloom/cuckoo rows are
  replayed: the runner's prefilter does not run on this path).
- ``spark.<group>.*``: the stage-level cause behind the rows above.
- ``query.*``: ops_per_s and latency_* on query_mix; never on crawl_daily.
"""

from __future__ import annotations

import json
import os
import time
from statistics import median

from .common import WORK_ROOT, Ctx, dir_bytes
from .querymix import MIX
from .tracing import STAGE_FIELDS, Tracer, stage_metrics, tracker_jobs

TABLES = ("url_seen", "documents", "frontier_pending", "frontier_done", "crawl_log")
STAGE_GROUPS = ("runner", "url_seen", "documents", "frontier_pending")
FILTERS = ("bloom", "cuckoo")
# the mix's heavy queries also report their CPU share and shuffle volume
HEAVY = ("dedup_minhash_lsh", "dedup_ngram_jaccard", "lm_fluency_buckets")


def metric_specs() -> list[dict]:
    """Every per-layer metric: name, unit and which direction is better."""
    s: list[tuple[str, str, str]] = [
        ("runner.init_s", "s", "lower"),
        ("runner.waves", "count", "lower"),
        ("runner.wave_s_p50", "s", "lower"),
        ("runner.wave_s_max", "s", "lower"),
        ("runner.unattributed_s", "s", "lower"),
    ]
    for t in TABLES:
        s += [(f"tableformat.{t}.write_s", "s", "lower"),
              (f"tableformat.{t}.commits", "count", "lower"),
              (f"tableformat.{t}.bytes_written", "bytes", "lower")]
    s += [
        ("tableformat.read_deltas.files", "count", "lower"),
        ("docsink.pages", "count", "higher"),
        ("docsink.bytes_written", "bytes", "lower"),
        ("docsink.s", "s", "lower"),
        ("seen.filter_new_urls_s", "s", "lower"),
        ("seen.url_seen_rows", "count", "lower"),
        ("seen.candidates", "count", "lower"),
        ("seen.confirmed_new", "count", "higher"),
    ]
    for b in FILTERS:
        s += [(f"{b}.build_s", "s", "lower"), (f"{b}.probe_s", "s", "lower"),
              (f"{b}.maybe_seen", "count", "lower"), (f"{b}.useful_ratio", "ratio", "higher")]
    s += [
        ("parse.search_pages_s", "s", "lower"),
        ("parse.candidate_urls", "count", "higher"),
        ("politeness.selected_rows", "count", "higher"),
    ]
    for g in STAGE_GROUPS:
        s += [(f"spark.{g}.executor_run_s", "s", "lower"),
              (f"spark.{g}.executor_cpu_s", "s", "lower"),
              (f"spark.{g}.shuffle_write_bytes", "bytes", "lower"),
              (f"spark.{g}.spill_bytes", "bytes", "lower")]
    for q in MIX:
        s.append((f"query.{q}_s", "s", "lower"))
    for q in HEAVY:
        s += [(f"query.{q}.cpu_ratio", "ratio", "higher"),
              (f"query.{q}.shuffle_bytes", "bytes", "lower")]
    return [{"name": n, "unit": u, "better": b} for (n, u, b) in s]


def put_all(ctx: Ctx, values: dict[str, float]) -> None:
    """Report every per-layer metric; those the workload never touched are 0."""
    for spec in metric_specs():
        ctx.put(spec["name"], values.get(spec["name"], 0.0), spec["unit"])


# ---- crawl: wrapping ---------------------------------------------------------------
def install_crawl(spark, ctx: Ctx) -> Tracer:
    from fundamental_spark.crawl import runner as runner_mod
    from fundamental_spark.tableformat import Warehouse

    tr = Tracer(spark, run_id=f"{ctx.workload}-{ctx.seed}")
    Runner = runner_mod.CrawlRunner

    def rooted(name, orig):
        # the runner's write-pool threads open their spans under this one
        def call(self, *a, **k):
            with tr.span(name, "runner") as rec:
                tr.root = rec["id"]
                try:
                    rec["result"] = orig(self, *a, **k)
                finally:
                    tr.root = None
                return rec["result"]
        return call

    tr.patch(Runner, "init", rooted("runner.init", Runner.init))
    tr.patch(Runner, "step", rooted("runner.step", Runner.step))

    def table_group(self, name, *a, **k):
        return name

    def written(rec, version, self, name, *a, **k):
        rec["table"] = name
        rec["bytes"] = dir_bytes(self._snapshot_dir(name, version))

    for meth in ("overwrite", "append_delta", "append_delta_rows", "append_delta_files"):
        tr.wrap(Warehouse, meth, "tableformat.write", group=table_group, on_exit=written)

    def files_read(rec, df, self, name, version=None):
        v = version if version is not None else self.current_version(name)
        floor = self.compaction_floor(name)
        dirs = [self._compact_dir(name, floor)] if floor > 0 else []
        dirs += [self._snapshot_dir(name, i) for i in range(floor + 1, v + 1)]
        rec["table"] = name
        rec["files"] = sum(
            f.endswith(".parquet") for d in dirs for f in os.listdir(d)
        )

    tr.wrap(Warehouse, "read_deltas", "tableformat.read_deltas", on_exit=files_read)
    # the lazy layers: these spans time plan building only; the replay
    # below times their execution
    tr.wrap(runner_mod, "select_wave", "politeness.select_wave")
    tr.wrap(runner_mod, "parse_search_pages", "parse.parse_search_pages")
    tr.wrap(runner_mod, "filter_new_urls", "seen.filter_new_urls")
    ctx.tracer = tr
    return tr


# ---- crawl: replay of the lazy layers ------------------------------------------------
def _noop_s(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _candidates(parsed, n_shards: int):
    """The runner's candidate rows of one wave (runner.step, search-page
    section): exploded listing urls, keyed, first occurrence per url."""
    from pyspark.sql import functions as F

    from fundamental_spark.crawl.canonical import with_url_keys

    raw = (
        parsed.select(
            "city",
            F.col("page_idx").alias("discovered_on_page"),
            F.posexplode_outer("listing_urls").alias("page_pos", "url"),
        ).filter(F.col("url").isNotNull())
    )
    dedup = (
        with_url_keys(raw, n_shards=n_shards).groupBy("url")
        .agg(F.min(F.struct("city", "discovered_on_page", "page_pos",
                            "url_hash", "domain", "domain_shard")).alias("_s"))
        .select("url", "_s.*")
    )
    return raw, dedup


def replay(spark, crawl, web) -> dict[str, float]:
    """Run each lazy layer on every wave's pinned snapshot inputs of
    ``crawl`` and time it through the noop sink; then build and probe
    both prefilters on the run's url_seen."""
    from pyspark.sql import functions as F

    from fundamental_spark.crawl.bloom import build_bloom, probe_bloom
    from fundamental_spark.crawl.canonical import DEFAULT_N_SHARDS
    from fundamental_spark.crawl.cuckoo import build_cuckoo, probe_cuckoo
    from fundamental_spark.crawl.parse import parse_search_pages
    from fundamental_spark.crawl.politeness import select_wave
    from fundamental_spark.crawl.seen import filter_new_urls

    r, wh = crawl.runner, crawl.runner.wh
    v: dict[str, float] = {}

    def add(k, x):
        v[k] = v.get(k, 0.0) + x

    all_cands, seen_last, cached = None, None, []
    for w in sorted(crawl.wave_end):
        pin = crawl.versions[w - 1]
        pending = wh.read("frontier_pending", pin["frontier_pending"])
        url_seen = wh.read_deltas("url_seen", pin["url_seen"])
        selected = select_wave(pending, None, n_domains=max(len(r.domains), 1))
        add("politeness.selected_rows", selected.count())
        search_ok = (
            selected.filter(F.col("kind") == "search").join(web, "url")
            .filter(F.col("html").isNotNull()).cache()
        )
        search_ok.count()
        add("parse.search_pages_s", _noop_s(parse_search_pages(search_ok)))
        raw, cands = _candidates(parse_search_pages(search_ok).cache(), r.n_shards)
        cands = cands.cache()
        cached += [search_ok, cands]
        add("parse.candidate_urls", raw.count())
        add("seen.candidates", cands.count())
        n_seen = url_seen.count()
        seen_count = url_seen.filter("first_seen_wave >= 0").count()
        use_bloom = r.use_bloom and seen_count >= r.bloom_min_seen
        new = filter_new_urls(
            cands, url_seen, use_bloom=use_bloom, seen_count_hint=max(seen_count, 1),
            broadcast_seen=not use_bloom, backend=r.seen_backend,
        )
        add("seen.filter_new_urls_s", _noop_s(new))
        add("seen.confirmed_new", new.count())
        v["seen.url_seen_rows"] = max(v.get("seen.url_seen_rows", 0), n_seen)
        all_cands = cands if all_cands is None else all_cands.unionByName(cands)
        seen_last = url_seen

    # the prefilters on the run's largest seen set (the last wave's input),
    # probed with every candidate of the crawl
    all_cands = all_cands.cache()
    all_cands.count()
    n_seen = seen_last.count()
    per_shard = max(1024, n_seen // DEFAULT_N_SHARDS)  # seen.filter_new_urls sizing
    truly_seen = all_cands.join(seen_last.select("url"), "url", "left_semi").count()
    for name, build, probe in (("bloom", build_bloom, probe_bloom),
                               ("cuckoo", build_cuckoo, probe_cuckoo)):
        filt = build(seen_last, n_keys_per_shard=per_shard).cache()
        t0 = time.perf_counter()
        filt.count()
        v[f"{name}.build_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        maybe = probe(all_cands, filt).filter(F.col("maybe_seen")).count()
        v[f"{name}.probe_s"] = time.perf_counter() - t0
        v[f"{name}.maybe_seen"] = maybe
        v[f"{name}.useful_ratio"] = truly_seen / maybe if maybe else 1.0
        filt.unpersist()
    for df in cached + [all_cands]:
        df.unpersist()
    return v


# ---- crawl: aggregation ---------------------------------------------------------------
def crawl_layers(ctx: Ctx, spark, tr: Tracer, crawls, web) -> None:
    n = len(crawls)
    v: dict[str, float] = {}
    waves = [s for s in tr.named("runner.step") if s["result"]]
    dur = [s["end"] - s["start"] for s in waves]
    v["runner.init_s"] = sum(s["end"] - s["start"] for s in tr.named("runner.init")) / n
    v["runner.waves"] = len(waves) / n
    v["runner.wave_s_p50"] = median(dur)
    v["runner.wave_s_max"] = max(dur)
    v["runner.unattributed_s"] = sum(tr.uncovered_s(s) for s in waves) / n
    for s in tr.named("tableformat.write"):
        t = s["table"]
        for k, x in (("write_s", s["end"] - s["start"]), ("commits", 1),
                     ("bytes_written", s["bytes"])):
            key = f"tableformat.{t}.{k}"
            v[key] = v.get(key, 0.0) + x / n
        if t == "documents":
            v["docsink.s"] = v.get("docsink.s", 0.0) + (s["end"] - s["start"]) / n
            v["docsink.bytes_written"] = v.get("docsink.bytes_written", 0.0) + s["bytes"] / n
    v["docsink.pages"] = sum(len(c.out["docs"]) for c in crawls) / n
    v["tableformat.read_deltas.files"] = sum(
        s["files"] for s in tr.named("tableformat.read_deltas")) / n
    with tr.span("replay", "replay"):
        v.update(replay(spark, crawls[-1], web))
    ctx.layer_values = v
    ctx.layer_runs = n
    ctx.tracker = tracker_jobs(spark, STAGE_GROUPS)


def finish(ctx: Ctx) -> None:
    """After the SparkContext stopped: fold the event log's stage metrics
    into the per-layer numbers; keep the spans and the stage metrics per
    job group beside the run's other traces."""
    groups = stage_metrics(ctx.path("events"), ctx.tracker)
    out = os.path.join(WORK_ROOT, "traces", f"{ctx.workload}-{ctx.seed}")
    os.makedirs(out, exist_ok=True)
    ctx.tracer.write(os.path.join(out, "spans.jsonl"))
    with open(os.path.join(out, "stages.json"), "w") as f:
        json.dump(groups, f, indent=1, sort_keys=True)
    v = dict(ctx.layer_values)
    for g, vals in groups.items():
        for f in STAGE_FIELDS:
            v[f"spark.{g}.{f}"] = vals[f] / ctx.layer_runs
    for q in HEAVY:
        g = groups.get(f"query.{q}")
        if g and g["executor_run_s"] > 0:
            v[f"query.{q}.cpu_ratio"] = g["executor_cpu_s"] / g["executor_run_s"]
            v[f"query.{q}.shuffle_bytes"] = g["shuffle_write_bytes"] / ctx.layer_runs
    put_all(ctx, v)
