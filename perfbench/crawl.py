"""Workload ``crawl_polite``: a politeness-bound crawl, resumed by a fresh engine.

Inputs come from ``crawl_spark.sources.fixtures`` with seeds derived from
the workload seed: ``PAGES`` pages over ``HOSTS`` Zipf-sized hosts, a robots
table for every host (crawl delays 0-5 s, disallow prefixes) and
``SEEDS`` seed URLs (messy variants, fetch misses, glob callbacks).

Round 0 (seeding the frontier, and the JVM's JIT warm-up) runs before the
timed passes and its committed workdir is kept as the checkpoint. A pass
copies the checkpoint to a fresh workdir (untimed) and restarts the crawl
from it: a new ``CrawlEngine`` runs ``run(..., resume=True)`` for round 1.
Passes repeat until the run's seconds are spent and the one that used the
least CPU time is reported; its wall time is reported beside it.
``FRONTIER_COMPACT_EVERY``
is set so the frontier log compacts in round 1. ``BATCH_CAP`` binds in round
1, so every seed fetches about the same number of pages there, and most
frontier rows are deferred.

The pass is checked against ``tests/refmodel.py``: each round's dequeue
transcript and the seen set committed at that round must equal the
reference model's. The reference is computed once per seed and cached.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
import shutil
import statistics
import sys
import time

PAGES, HOSTS, SEEDS = 6_000, 500, 500
BATCH_CAP = 250
ROUNDS = 2  # round 0 before timing, round 1 in every pass
FRONTIER_COMPACT_EVERY = 2
FIXTURE_FILES = 4
SETUP_REPEATS = 3

LOG_CATEGORIES = {
    "seen_deltas": "seen",
    "frontier_log": "frontier",
    "host_state_log": "host_state",
}


def registry():
    """The handler set of the end-to-end tests: a following page handler
    and a glob-matched (``li*``) non-following lister."""
    from crawl_spark.plans.handlers import Handler, HandlerRegistry

    reg = HandlerRegistry()
    reg.register("page", Handler(name="page", text_selector="body", link_selector="a"))
    reg.register(
        "li*", Handler(name="lister", text_selector="h1", link_selector="ul.nav a", follow=False)
    )
    return reg


def make_fixture(out_dir: str, seed: int, n_pages=PAGES, n_hosts=HOSTS, n_seeds=SEEDS) -> dict:
    from crawl_spark.sources.fixtures import gen_pages, gen_robots, gen_seeds

    pages = gen_pages(n_pages, n_hosts=n_hosts, seed=3 * seed)
    robots = gen_robots(n_hosts, seed=3 * seed + 1)
    seeds = gen_seeds(pages, n_seeds=n_seeds, seed=3 * seed + 2)
    pages_dir = os.path.join(out_dir, "pages")
    os.makedirs(pages_dir)
    chunk = -(-len(pages) // FIXTURE_FILES)
    for i in range(0, len(pages), chunk):
        pages.iloc[i : i + chunk].to_parquet(
            os.path.join(pages_dir, "part-%05d.parquet" % (i // chunk)),
            index=False,
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )
    robots_path = os.path.join(out_dir, "robots.parquet")
    robots.to_parquet(robots_path, index=False)
    return {"pages": pages, "robots": robots, "seeds": seeds,
            "pages_dir": pages_dir, "robots_path": robots_path}


def scan_fixture(spark, fx: dict) -> None:
    """Read every page through the noop sink, so that no timed read
    depends on the page-cache state."""
    spark.read.parquet(fx["pages_dir"]).write.format("noop").mode("overwrite").save()


def new_engine(spark, fx: dict, workdir: str):
    from crawl_spark.plans.engine import CrawlEngine, EngineConfig

    return CrawlEngine(
        spark,
        spark.read.parquet(fx["pages_dir"]),
        registry(),
        robots_df=spark.read.parquet(fx["robots_path"]),
        config=EngineConfig(
            batch_cap=BATCH_CAP,
            workdir=workdir,
            frontier_compact_every=FRONTIER_COMPACT_EVERY,
        ),
    )


def _manifest_mtime(workdir: str, r: int) -> float:
    return os.stat(os.path.join(workdir, "round_%05d" % r, "manifest.json")).st_mtime


def _reference(cache_dir: str, seed: int, fx: dict) -> dict:
    """Per-round transcripts and seen sets of the reference model for this
    seed. Keyed by the sources the reference depends on (the model, every
    module it imports, the fixture generator and this file's handler set),
    so a cached entry is never read against other code."""
    from crawl_spark.functions import hashing, htmldom, urlnorm
    from crawl_spark.plans import handlers
    from crawl_spark.sources import fixtures
    from tests import refmodel

    sources = (refmodel, hashing, htmldom, urlnorm, handlers, fixtures, sys.modules[__name__])
    h = hashlib.sha256(
        repr((PAGES, HOSTS, SEEDS, BATCH_CAP, ROUNDS, seed)).encode()
        + b"".join(inspect.getsource(m).encode() for m in sources)
    ).hexdigest()[:16]
    path = os.path.join(cache_dir, "crawl_polite-%d-%s.json" % (seed, h))
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    pages_map = dict(zip(fx["pages"]["url"], fx["pages"]["html"]))
    robots_map = {
        r["host"]: (list(r["disallow"]), float(r["crawl_delay"]))
        for r in fx["robots"].to_dict("records")
    }
    seeds = fx["seeds"].to_dict("records")
    ref = {"transcripts": [], "seen": []}
    # refmodel returns only the final seen set: one prefix run per round
    for k in range(1, ROUNDS + 1):
        res = refmodel.crawl(pages_map, seeds, registry(), robots=robots_map,
                             batch_cap=BATCH_CAP, max_rounds=k)
        ref["seen"].append(sorted(res.seen))
        ref["transcripts"] = res.transcript
    os.makedirs(cache_dir, exist_ok=True)
    tmp = path + ".%d.tmp" % os.getpid()
    with open(tmp, "w") as f:
        json.dump(ref, f)
    os.replace(tmp, path)
    return ref


def _check(spark, engine, res, ref: dict) -> tuple[int, list[str]]:
    """Compare every committed round with the reference model; returns
    (rounds attempted, problems)."""
    got = res.read_transcript(spark)
    n = max(len(got), len(ref["transcripts"]))
    problems = []
    for r in range(n):
        if r >= len(got) or r >= len(ref["transcripts"]):
            problems.append("round %d: engine ran %d rounds, reference %d"
                            % (r, len(got), len(ref["transcripts"])))
            continue
        seen = {row.url_canon for row in
                engine.read_table("seen", snapshot=r).select("url_canon").collect()}
        if got[r] != ref["transcripts"][r]:
            problems.append("round %d: transcript differs from tests/refmodel.py" % r)
        elif seen != set(ref["seen"][r]):
            problems.append("round %d: seen set differs from tests/refmodel.py (%d vs %d urls)"
                            % (r, len(seen), len(ref["seen"][r])))
    return n, problems


def _walk_new_files(workdir: str, known: dict) -> dict:
    """Bytes and files that appeared in ``workdir`` since the last walk,
    by state log (seen, frontier, host_state) or round outputs."""
    out = {"seen": 0, "frontier": 0, "host_state": 0, "round_outputs": 0, "other": 0, "files": 0}
    for dirpath, _, files in os.walk(workdir):
        top = os.path.relpath(dirpath, workdir).split(os.sep)[0]
        cat = LOG_CATEGORIES.get(top, "round_outputs" if top.startswith("round_") else "other")
        for name in files:
            p = os.path.join(dirpath, name)
            st = os.stat(p)
            if known.get(p) == (st.st_size, st.st_mtime_ns):
                continue
            known[p] = (st.st_size, st.st_mtime_ns)
            out[cat] += st.st_size
            out["files"] += 1
    return out


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def _counters(res) -> dict:
    c = res.counters
    total = lambda k: sum(x.get(k, 0) for x in c)
    return {
        "fetched": total("fetched"),
        "scheduled": total("scheduled"),
        "deduped": total("deduped"),
        "deferred": total("deferred_by_politeness"),
        "errors": total("errors"),
        "rounds": len(c),
    }


def run(ctx) -> dict:
    tr = ctx.tracer
    t = ctx.now()
    with tr.span("setup.fixture"):
        fx = make_fixture(ctx.path("fixture"), ctx.seed)
    fixture = ctx.since(t)
    seeds = fx["seeds"]

    t = ctx.now()
    scan_fixture(ctx.spark, fx)
    scan = ctx.since(t)
    # the repeated set-up unit: engine construction
    setup_reps = []
    for _ in range(SETUP_REPEATS):
        t = ctx.now()
        with tr.span("engine.construct"):
            eng = new_engine(ctx.spark, fx, ctx.path("checkpoint"))
        setup_reps.append(ctx.since(t))
    if ctx.trace:
        # on an engine of its own, so the measured engine's rounds run as untraced
        probe = new_engine(ctx.spark, fx, ctx.path("seed_probe"))
        with tr.span("engine.seed_frontier"):
            probe.seed_frontier(seeds)
    known: dict = {}
    t = ctx.now()
    with tr.span("engine.round", round=0):
        eng.run(seeds, max_rounds=ROUNDS - 1)
    round0 = ctx.since(t)
    written0 = _walk_new_files(eng.config.workdir, known) if ctx.trace else None
    # (wall, CPU)
    setup = [ctx.session[i] + fixture[i] + scan[i] + statistics.median(r[i] for r in setup_reps)
             + round0[i] for i in (0, 1)]

    passes = []
    t_timed = time.perf_counter()
    while True:
        workdir = ctx.path("pass%d" % len(passes))
        shutil.copytree(eng.config.workdir, workdir)
        if ctx.trace:
            _walk_new_files(workdir, known)
        wall0, t0 = time.time(), ctx.now()
        with tr.span("engine.resume"):
            eng2 = new_engine(ctx.spark, fx, workdir)
            res = eng2.run(seeds, max_rounds=ROUNDS, resume=True)
        pass_s, pass_cpu_s = ctx.since(t0)
        if ctx.trace:  # what round 0 and this pass's round 1 wrote
            written = [written0, _walk_new_files(workdir, known)]
        last = res.counters[-1]
        passes.append({
            "engine": eng2, "res": res, "pass_s": pass_s, "pass_cpu_s": pass_cpu_s,
            # new engine's start to the round's commit, from the manifest
            "round_s": _manifest_mtime(workdir, ROUNDS - 1) - wall0,
            "fetched": last["fetched"], "scheduled": last["scheduled"],
        })
        if time.perf_counter() - t_timed >= ctx.seconds:
            break
    rss_mb = ctx.jvm_peak_rss_mb()

    ref = _reference(ctx.cache_dir, ctx.seed, fx)
    attempted, problems = 0, []
    for i, p in enumerate(passes):
        n, found = _check(ctx.spark, p["engine"], p["res"], ref)
        attempted += n
        problems += ["pass %d, %s" % (i, f) for f in found]
    best = min(passes, key=lambda p: p["pass_cpu_s"])
    e2e = {
        "setup_s": setup[1],
        "pass_cpu_s": best["pass_cpu_s"],
        "items_per_cpu_s": best["fetched"] / best["pass_cpu_s"],
        "exact_match_share": (attempted - len(problems)) / attempted,
    }
    report = {
        "setup_wall_s": ("s", setup[0]),
        "urls_scheduled_per_s": ("1/s", best["scheduled"] / best["pass_s"]),
        "pages_fetched_per_s": ("1/s", best["fetched"] / best["pass_s"]),
        "round_s_p50": ("s", statistics.median(p["round_s"] for p in passes)),
        "resume_s": ("s", best["pass_s"]),
        "round0_s": ("s", round0[0]),
        "ordering_exact_match": ("share", e2e["exact_match_share"]),
        "passes": ("count", len(passes)),
        **{k: ("share", v) for k, v in _properties(res).items()},
    }
    layer = {"jvm_peak_rss_mb": rss_mb}
    if ctx.trace:
        from perfbench.kernel import kernel_metrics

        seen_bytes = _dir_bytes(os.path.join(workdir, "seen_deltas"))
        layer.update(kernel_metrics(fx["pages"]))
        layer.update(_engine_layer(tr, written, _counters(res), seen_bytes / len(ref["seen"][-1])))
    return {"e2e": e2e, "layer": layer, "report": report,
            "attempted": attempted, "problems": problems}


def _engine_layer(tr, written: list, c: dict, state_bytes_per_url: float) -> dict:
    # round 0 and the last pass's resumed round 1
    resumes = tr.named("engine.resume")
    resume = resumes[-1]
    rounds = tr.named("engine.round") + [resume]
    per_round = lambda k: statistics.mean(s.counts[k] for s in rounds)
    tot = lambda k: sum(w[k] for w in written)
    bytes_all = sum(tot(k) for k in ("seen", "frontier", "host_state", "round_outputs", "other"))
    return {
        "engine.jobs_per_round": per_round("jobs"),
        "engine.stages_per_round": per_round("stages"),
        "engine.tasks_per_round": per_round("tasks"),
        "engine.failed_tasks": sum(s.counts["failed_tasks"] for s in rounds),
        "engine.round_s.p50": statistics.median(s.seconds for s in rounds),
        "engine.round_s.max": max(s.seconds for s in rounds),
        "engine.seed_frontier_s": tr.named("engine.seed_frontier")[-1].seconds,
        "engine.construct_s": statistics.median(s.seconds for s in tr.named("engine.construct")),
        "engine.resume_jobs": resume.counts["jobs"],
        "engine.bytes_written.seen": tot("seen"),
        "engine.bytes_written.frontier": tot("frontier"),
        "engine.bytes_written.host_state": tot("host_state"),
        "engine.bytes_written.round_outputs": tot("round_outputs"),
        "engine.files_written": tot("files"),
        "engine.bytes_written_per_page": bytes_all / max(c["fetched"], 1),
        "engine.state_bytes_per_seen_url": state_bytes_per_url,
        "engine.fetched": c["fetched"],
        "engine.scheduled": c["scheduled"],
        "engine.deduped": c["deduped"],
        "engine.deferred": c["deferred"],
        "engine.errors": c["errors"],
        "engine.dedup_ratio": c["scheduled"] / max(c["scheduled"] + c["deduped"], 1),
        "engine.batch_fill": c["fetched"] / (BATCH_CAP * c["rounds"]),
        # the same statistic as the untraced pass_s
        "trace.pass_s": min(s.seconds for s in resumes),
    }


def _properties(res) -> dict:
    """The measured properties that define the workload."""
    rows = res.counters
    later = rows[1:]
    return {
        "deferred_per_fetched_after_round0": sum(x["deferred_by_politeness"] for x in later)
        / max(sum(x["fetched"] for x in later), 1),
        "rounds_with_candidates_le_2048": sum(
            1 for x in rows if x.get("scheduled", 0) + x.get("deduped", 0) <= 2048
        ) / len(rows),
    }
