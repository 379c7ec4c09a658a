"""Workload ``query_suite``: operator queries of ``__spark_entry__`` checked
against their DuckDB twins.

The ``documents`` and ``events`` tables are generated from the workload
seed with the schema and value ranges of the tables in TESTDATA.md. The
query list is every iterative graph operator plus one query per other
operator or source module; the per-job overhead of the iterative operators
dominates the pass. Set-up ends with a warm-up that runs every query once,
several at a time: a query's first run compiles its plans (code
generation), which later runs reuse. A timed pass runs every query once,
one after the other, its result collected with ``toPandas()`` (one job per
query, like the noop sink). Passes repeat until the run's seconds are spent
and ``pass_cpu_s`` sums each query's least CPU time (``suite_s`` its least
wall time). Every timed run's result is
compared with the query's ``oracle_sql()`` twin on DuckDB afterwards, by
the order-insensitive value comparison of ``tools/check_contract.py``.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd

# query -> the operator/source module it imports ("entry": inline in
# __spark_entry__). Fixed here so that metric names stay stable. Of the
# graph queries, trustrank, cc_star and neighborhood_fn are left out to keep
# a run within the benchmark's time budget: each repeats the iteration of a
# kept operator (pagerank's power iteration, connected_components' output
# contract, harmonic's HyperBall sketches).
QUERIES = {
    "seen_antijoin": "entry",
    "fifo_batch": "topk",
    "lang_id": "textops",
    "hash_sample": "sampling",
    "hll_distinct": "hll",
    "wet_export": "wet",
    "cdx_index": "cdx",
    "pagerank": "graph",
    "hits": "graph",
    "connected_components": "graph",
    "harmonic": "graph",
}
GRAPH_QUERIES = ("connected_components", "hits", "pagerank", "harmonic")
TABLES = ("documents", "events")
N_DOCS, N_EVENTS = 500, 10_000
SETUP_REPEATS = 3

_VOCAB = (
    "join hash row batch scan column customer filter small slow merge order vector "
    "line table data agg value key stream window a spark part group big sort query "
    "fast the"
).split()
_LANGS = (["en", "zh", "es", "de", "fr"], [0.44, 0.14, 0.14, 0.14, 0.14])
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def gen_documents(n: int, seed: int) -> pd.DataFrame:
    """~5% of the documents repeat an earlier one with " dup" appended,
    so the near-duplicate operators have pairs to find."""
    rng = np.random.default_rng(seed % (1 << 32))
    texts = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_VOCAB, int(rng.integers(8, 90)))))
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS[0], n, p=_LANGS[1]),
        "source": ["src%d" % (i % 20) for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def gen_events(n: int, seed: int) -> pd.DataFrame:
    rng = np.random.default_rng(seed % (1 << 32))
    gaps_us = (rng.exponential(259.0, n) * 1e6).astype(np.int64)
    ts = pd.Timestamp(dt.datetime(2024, 1, 1)) + pd.to_timedelta(np.cumsum(gaps_us), unit="us")
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, 150, n).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, n),
        "value": np.round(np.maximum(rng.exponential(50.0, n), 0.01), 2),
        "props": ['{"k": %d}' % k for k in rng.integers(0, 100, n)],
    })


def _warm_up(spark, qs, data_dir: str) -> None:
    """Run every query once, as many at a time as there are cores, and drop
    the results. A query that fails here fails again in the timed pass,
    where it is counted."""

    def one(name):
        try:
            qs[name](spark, data_dir).toPandas()
        except Exception:
            pass

    with ThreadPoolExecutor(len(os.sched_getaffinity(0))) as pool:
        list(pool.map(one, QUERIES))


def _scan_tables(spark, data_dir: str) -> None:
    for t in TABLES:
        spark.read.parquet(os.path.join(data_dir, "%s.parquet" % t)).write.format(
            "noop").mode("overwrite").save()


class _Oracle:
    """The ``oracle_sql()`` twins on DuckDB over the generated tables, loaded
    into memory (the iterative twins re-read their input every step). A
    result is cached under the hash of its SQL and of the tables' bytes,
    since the twins of the iterative operators take seconds each."""

    def __init__(self, ctx, data_dir: str):
        import duckdb

        import __spark_entry__ as entry

        self.sql = entry.oracle_sql()
        self.cache_dir = ctx.cache_dir
        h = hashlib.sha256()
        for t in TABLES:
            with open(os.path.join(data_dir, "%s.parquet" % t), "rb") as f:
                h.update(f.read())
        self.tables_hash = h.hexdigest()
        self.con = duckdb.connect()
        self.con.execute("SET temp_directory='%s'" % ctx.path("duckdb_tmp"))
        for t in TABLES:
            self.con.execute("CREATE TABLE %s AS SELECT * FROM read_parquet('%s')"
                             % (t, os.path.join(data_dir, "%s.parquet" % t)))

    def result(self, name: str) -> pd.DataFrame:
        key = hashlib.sha256((self.tables_hash + self.sql[name]).encode()).hexdigest()[:16]
        path = os.path.join(self.cache_dir, "oracle-%s-%s.parquet" % (name, key))
        if os.path.exists(path):
            return pd.read_parquet(path)
        df = self.con.execute(self.sql[name]).fetchdf()
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = "%s.%d.tmp" % (path, os.getpid())
        df.to_parquet(tmp, index=False)
        os.replace(tmp, path)
        return df

    def close(self) -> None:
        self.con.close()


def run(ctx) -> dict:
    import __spark_entry__ as entry
    from tools.check_contract import compare

    tr = ctx.tracer
    t = ctx.now()
    with tr.span("setup.fixture"):
        data_dir = ctx.path("tables")
        os.makedirs(data_dir)
        gen_documents(N_DOCS, 2 * ctx.seed).to_parquet(
            os.path.join(data_dir, "documents.parquet"), index=False)
        gen_events(N_EVENTS, 2 * ctx.seed + 1).to_parquet(
            os.path.join(data_dir, "events.parquet"), index=False,
            coerce_timestamps="us", allow_truncated_timestamps=True)
    fixture = ctx.since(t)

    qs = entry.queries()

    setup_reps = []
    for _ in range(SETUP_REPEATS):
        t = ctx.now()
        _scan_tables(ctx.spark, data_dir)
        setup_reps.append(ctx.since(t))
    t = ctx.now()
    with tr.span("setup.warmup"):
        _warm_up(ctx.spark, qs, data_dir)
    warmup = ctx.since(t)
    # (wall, CPU)
    setup = [ctx.session[i] + fixture[i] + statistics.median(r[i] for r in setup_reps)
             + warmup[i] for i in (0, 1)]

    # per query, one (wall, CPU, result, error) per execution
    runs: dict = {name: [] for name in QUERIES}
    passes = 0
    t_timed = time.perf_counter()
    while True:
        with tr.span("suite.pass"):
            for name in QUERIES:
                t = ctx.now()
                got, err = None, None
                with tr.span("query:" + name, module=QUERIES[name]):
                    try:
                        got = qs[name](ctx.spark, data_dir).toPandas()
                    except Exception as e:  # a failing query is counted, the pass goes on
                        err = "spark error: %s: %s" % (type(e).__name__, str(e)[:300])
                runs[name].append((*ctx.since(t), got, err))
        passes += 1
        if time.perf_counter() - t_timed >= ctx.seconds:
            break
    rss_mb = ctx.jvm_peak_rss_mb()

    problems = []
    oracle = _Oracle(ctx, data_dir)
    for name, execs in runs.items():
        try:
            want = oracle.result(name)
        except Exception as e:  # every run of the query lacks its check
            cause = "duckdb error: %s: %s" % (type(e).__name__, str(e)[:300])
            problems += ["%s, run %d: %s" % (name, i, cause) for i in range(len(execs))]
            continue
        for i, (_, _, got, err) in enumerate(execs):
            found = [err] if err else compare(name, got, want)
            if found:
                problems.append("%s, run %d: %s" % (name, i, "; ".join(found)))
    oracle.close()

    attempted = sum(len(execs) for execs in runs.values())
    best = {name: min(w for w, _, _, _ in execs) for name, execs in runs.items()}
    suite_s = sum(best.values())
    suite_cpu_s = sum(min(c for _, c, _, _ in execs) for execs in runs.values())
    e2e = {
        "setup_s": setup[1],
        "pass_cpu_s": suite_cpu_s,
        "items_per_cpu_s": len(QUERIES) / suite_cpu_s,
        "exact_match_share": (attempted - len(problems)) / attempted,
    }
    report = {
        "setup_wall_s": ("s", setup[0]),
        "suite_s": ("s", suite_s),
        "warmup_s": ("s", warmup[0]),
        "query_s_p50": ("s", statistics.median(best.values())),
        "passes": ("count", passes),
        **{"query_s.%s" % q: ("s", best[q]) for q in QUERIES},
    }
    layer = {"jvm_peak_rss_mb": rss_mb}
    if ctx.trace:
        layer.update(_operator_layer(tr))
    return {"e2e": e2e, "layer": layer, "report": report,
            "attempted": attempted, "problems": problems}


def _operator_layer(tr) -> dict:
    """Per query: the fastest execution's wall (as ``suite_s`` takes it) and
    the last execution's Spark counts."""
    spans: dict = {}
    for s in tr.spans:
        if s.name.startswith("query:"):
            spans.setdefault(s.name[len("query:"):], []).append(s)
    secs = {q: min(s.seconds for s in ss) for q, ss in spans.items()}
    last = {q: ss[-1] for q, ss in spans.items()}
    out = {}
    for module in sorted(set(QUERIES.values())):
        mine = [q for q in QUERIES if QUERIES[q] == module]
        out["operators.%s.s" % module] = sum(secs[q] for q in mine)
        out["operators.%s.jobs" % module] = sum(last[q].counts["jobs"] for q in mine)
    for q in GRAPH_QUERIES:
        out["operators.%s.s" % q] = secs[q]
        out["operators.%s.jobs" % q] = last[q].counts["jobs"]
    for k in ("jobs", "stages", "tasks"):  # one execution of every query
        out["operators.%s" % k] = sum(s.counts[k] for s in last.values())
    out["trace.pass_s"] = sum(secs.values())
    return out
