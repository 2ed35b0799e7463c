"""The ``query_mix`` workload: registered headline queries over a seeded
synthetic sf-style dataset, one query at a time. Each execution is fully
computed and collected (every result is at most a few thousand rows;
unlike ``count()``, ``collect()`` prunes no columns), so every timed
execution, and the warm-up pass on small tables of the same shape, is
compared with its DuckDB oracle (``queries.ORACLE_SQL``) outside the
clock. Collecting costs no extra pass, where the ``noop`` sink would
need one more collected pass to check the results.

The tables the mix reads (lineitem, documents) have the schemas, row
counts and value distributions of the sf0.1 test data, measured from
those tables: documents are 10-99 words drawn uniformly from the same
30-word vocabulary, 5% of them are an earlier or later document with
" dup" appended, languages are 40% en and 15% each of zh/de/fr/es, and
sources cycle over 20 names; lineitem follows the sf0.1 value domains.
They are generated here from ``--seed`` so the benchmark needs nothing
outside its checkout.
"""

from __future__ import annotations

import contextlib
import math
import os
import random
import time
from statistics import median

import numpy as np

from .common import Ctx, quantile, tail_quantile

# the mix: one headline query per operator family the open performance
# work targets — analysis aggregates, functions.text scoring, LM
# bucketing, blocked-pair jaccard and MinHash LSH with verification.
# A full pass of all 35 headline queries (~55 s warm, ~85 s cold on
# local[4]) does not fit one benchmark run.
MIX = (
    "pricing_summary", "text_quality", "lm_fluency_buckets", "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
)
TABLES = ("lineitem", "documents")
ROWS = {"default": {"lineitem": 600_000, "documents": 5000},  # sf0.1
        "tiny": {"lineitem": 600, "documents": 60}}
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
NEAR_DUP_SHARE = 0.05


def generate(out_dir: str, seed: int, rows: dict[str, int]) -> None:
    """Write the seeded tables as parquet under ``out_dir``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    n = rows["lineitem"]
    qty = rng.integers(1, 51, n).astype(float)
    day0 = np.datetime64("1995-01-02")
    flags = rng.integers(0, 3, n)
    li = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n // 4, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n // 30, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n // 600, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[flags],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": pa.array(
            (day0 + rng.integers(0, 2500, n).astype("timedelta64[D]")).astype("datetime64[us]")
        ),
    })
    pq.write_table(li, os.path.join(out_dir, "lineitem.parquet"))

    n = rows["documents"]
    texts = [" ".join(VOCAB[k] for k in rng.integers(0, len(VOCAB), int(rng.integers(10, 100))))
             for _ in range(n)]
    # near-duplicates: another document's text with " dup" appended; a
    # source that is itself a near-duplicate gives "dup dup" chains
    for i in rng.permutation(n)[: round(NEAR_DUP_SHARE * n)]:
        j = int(rng.integers(0, n - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    docs = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))


def doc_stats(sf_dir: str) -> dict:
    """The statistics of the documents table the dedup queries' cost
    depends on, printed so a run shows the shape it measured."""
    import pyarrow.parquet as pq

    texts = pq.read_table(os.path.join(sf_dir, "documents.parquet"), columns=["text"])
    docs = [t.split() for t in texts.column("text").to_pylist()]
    df: dict[tuple, int] = {}
    for w in docs:
        for sh in {tuple(w[i:i + 3]) for i in range(len(w) - 2)}:
            df[sh] = df.get(sh, 0) + 1
    return {
        "documents": len(docs),
        "words_mean": round(sum(map(len, docs)) / len(docs), 2),
        "vocabulary": len({x for w in docs for x in w}),
        "near_dup_share": round(sum("dup" in w for w in docs) / len(docs), 4),
        "shingles": len(df),
        "shingle_df_mean": round(sum(df.values()) / len(df), 3),
    }


# ---- oracle check (the rounding of tests/test_oracle_parity.py) -------------------
def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    return v


def _canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def matches(spark_cols, spark_rows, duck_cols, duck_rows) -> bool:
    """Rows, schema and the order-insensitive value set agree."""
    sc = [c.lower() for c in spark_cols]
    dc = [c.lower() for c in duck_cols]
    return (
        sorted(sc) == sorted(dc)
        and len(spark_rows) == len(duck_rows)
        and _canon(sc, spark_rows) == _canon(dc, duck_rows)
    )


def _perturb(row: tuple) -> tuple:
    """The row with its first number or string changed (self-test only)."""
    out = list(row)
    for i, x in enumerate(out):
        if isinstance(x, (int, float)) and not isinstance(x, bool):
            out[i] = x + 1
            return tuple(out)
        if isinstance(x, str):
            out[i] = x + "~"
            return tuple(out)
    raise ValueError(f"nothing to perturb in {row!r}")


def oracle_results(sf_dir: str, names: list[str]) -> dict[str, tuple[list, list]]:
    """Each query's DuckDB oracle (columns, rows) on the same tables."""
    import duckdb

    from fundamental_spark.queries import ORACLE_SQL

    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    out = {}
    for name in names:
        res = con.sql(ORACLE_SQL[name])
        out[name] = (res.columns, res.fetchall())
    con.close()
    return out


def oracle_failures(results: dict[str, tuple[list, list]],
                    oracle: dict[str, tuple[list, list]]) -> set[str]:
    """The queries whose Spark result (columns, rows) differs from their
    oracle."""
    return {name for name, (cols, rows) in results.items()
            if not matches(cols, rows, *oracle[name])}


# ---- the workload --------------------------------------------------------------------
def run(ctx: Ctx, spark) -> None:
    from fundamental_spark.queries import SPARK_QUERIES

    sf_dir, warm_dir = ctx.path("sf"), ctx.path("sf_warmup")
    generate(sf_dir, ctx.seed, ROWS[ctx.size])
    generate(warm_dir, ctx.seed + 7919, ROWS["tiny"])
    order = list(MIX)
    random.Random(ctx.seed).shuffle(order)

    def execute(name: str, data: str) -> tuple[list, list]:
        """Run one query to completion; its (columns, rows)."""
        sdf = SPARK_QUERIES[name](spark, data)
        return sdf.columns, [tuple(r) for r in sdf.collect()]

    # warm-up pass on small tables of the same shape, outside the clock;
    # its results are checked too. On a 4-core machine the first timed
    # pass took as long after it as after a warm-up on the full tables,
    # which took ~12 s longer.
    t0 = time.perf_counter()
    warm_results = {name: execute(name, warm_dir) for name in order}
    ctx.info["setup_parts_s"] = {"spark": round(ctx.t_spark - ctx.t_start, 3),
                                 "data": round(t0 - ctx.t_spark, 3),
                                 "warmup": round(time.perf_counter() - t0, 3)}

    tracer = None
    if ctx.trace:
        from .tracing import Tracer

        tracer = Tracer(spark, run_id=f"{ctx.workload}-{ctx.seed}")
        ctx.tracer = tracer
    setup_s = time.perf_counter() - ctx.t_start

    samples: list[tuple[str, float, bool]] = []  # (query, seconds, raised)
    results: list[tuple[str, tuple | None]] = []
    passes: list[float] = []
    # a pass takes ~12-15 s on local[4], so a run times one: a second
    # pass steadied the figures little over ten seeds (IQR/median 0.15
    # against 0.14-0.19 for the first alone) and made each run ~13 s
    # longer
    while not passes or sum(passes) < ctx.seconds:
        t_pass = time.perf_counter()
        for name in order:
            t0 = time.perf_counter()
            out = None
            span = (tracer.span(f"query.{name}", f"query.{name}")
                    if tracer is not None else contextlib.nullcontext())
            try:
                with span:
                    out = execute(name, sf_dir)
            except Exception as e:  # a failing query is a failed operation
                print(f"query {name} raised: {e!r}", flush=True)
            samples.append((name, time.perf_counter() - t0, out is None))
            results.append((name, out))
        passes.append(time.perf_counter() - t_pass)

    t0 = time.perf_counter()
    oracle = oracle_results(sf_dir, order)
    if ctx.corrupt == "change_row":
        name, (cols, rows) = results[0]
        results[0] = (name, (cols, [_perturb(rows[0])] + rows[1:]))
    # one operation per timed execution; it fails when it raised or its
    # result differs from the oracle, or when the query's warm-up result
    # on the small tables differed from that table's oracle
    warm_bad = oracle_failures(warm_results, oracle_results(warm_dir, order))
    bad = [out is None or name in warm_bad or not matches(*out, *oracle[name])
           for (name, out) in results]
    ctx.attempted = len(samples)
    ctx.failed = sum(bad)
    ctx.info["check_s"] = round(time.perf_counter() - t0, 3)
    lat = [s for (_, s, _) in samples]
    q_tail = tail_quantile(len(lat), 0.90)
    ctx.put("setup_s", setup_s, "s")
    ctx.put("ops_per_s", len(order) / median(passes), "1/s")
    ctx.put("latency_p50_s", quantile(lat, 0.5), "s")
    ctx.put("latency_tail_s", quantile(lat, q_tail), "s")
    ctx.put("query_mix_s", median(passes), "s")
    ctx.put("query_latency_p50_s", quantile(lat, 0.5), "s")
    ctx.put("query_latency_tail_s", quantile(lat, q_tail), "s")
    ctx.info.update({
        "pass_s": [round(p, 3) for p in passes],
        "queries": order,
        "query_latency_samples": len(lat),
        "query_latency_tail_q": round(q_tail, 4),
        "oracle_mismatches": sorted({n for (n, _), b in zip(results, bad) if b} | warm_bad),
        "documents_shape": doc_stats(sf_dir),
    })
    if tracer is not None:
        values = {}
        for name in order:
            values[f"query.{name}_s"] = median(
                [s["end"] - s["start"] for s in tracer.named(f"query.{name}")])
        ctx.layer_values = values
        ctx.layer_runs = len(passes)
        from .tracing import tracker_jobs

        ctx.tracker = tracker_jobs(spark, tracer.groups)
