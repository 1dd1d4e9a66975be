"""Crawl workloads: a seeded crawl over a synthetic CD doc store, its
per-generation timings, the oracle gate and (traced runs) layer replays on
the run's own committed state."""

from __future__ import annotations

import json
import os
import statistics
import time

import inputs
import probes
from gates import crawl_mismatch

# Large generations (hundreds to ~1k URLs) against an 8-partition store.
# After one warm generation, two generations run in one ``run()`` call; the
# engine is then closed and a fresh engine resumes for one more.
N_DOCS = 2000
STORE_PARTS = 8
HOST_BUDGET = N_DOCS // 14
N_SEEDS = N_DOCS // 10
WARM, BEFORE, AFTER = 1, 2, 1


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _manifest(state_dir: str) -> dict[int, dict]:
    with open(os.path.join(state_dir, "_snapshots.json"), encoding="utf-8") as fh:
        rows = [json.loads(line) for line in fh if line.strip()]
    return {m["generation"]: m for m in rows if m.get("committed")}


def run(ctx) -> dict:
    from akf_cdparser_spark import fixtures
    from akf_cdparser_spark.crawl.frontier import CrawlEngine
    from akf_cdparser_spark.crawl.oracle import crawl_oracle

    spark, span = ctx.spark, ctx.tracer.span
    seeds = inputs.crawl_seeds(ctx.seed, N_DOCS, N_SEEDS)
    rules = fixtures.robots_rules(N_DOCS)
    state = ctx.path("state")

    def engine():
        return CrawlEngine(spark, state, N_DOCS, host_budget=HOST_BUDGET)

    with span("setup.doc_store"):
        docs = inputs.write_doc_store(spark, ctx.path("docs"), N_DOCS,
                                      STORE_PARTS, ctx.cores)
    # the phase end times are only needed to cut the event log into
    # generations, so the polling thread runs in traced runs only
    watcher = probes.PhaseWatcher() if ctx.trace else None
    with span("setup.bootstrap"):
        eng = engine()
        eng.bootstrap(seeds, rules)
    if watcher:
        watcher.watch(eng.phase_log)
    with span("setup.warm_generation"):
        eng.run(docs, WARM)
    ctx.setup_done()

    cpu0, t0 = probes.tree_cpu_seconds(), time.time()
    with span("CrawlEngine.run") as run1:
        eng.run(docs, BEFORE)
    with span("CrawlEngine.close"):
        eng.close()
    phase_log = list(eng.phase_log)
    # a fresh engine on the checkpoint; run() returns once the resumed
    # generation's state is committed
    with span("resume") as resume:
        eng = engine()
        if watcher:
            watcher.watch(eng.phase_log)
        with span("CrawlEngine.run") as run2:
            eng.run(docs, AFTER)
    ctx.measured(time.time() - t0, probes.tree_cpu_seconds() - cpu0)
    phase_log += eng.phase_log
    if watcher:
        watcher.stop()

    # -- per-generation numbers from the commit manifest + phase_log --------
    man = _manifest(state)
    gens = list(range(WARM + 1, WARM + 1 + BEFORE + AFTER))
    walls = {g: man[g]["wall_ms"] / 1000.0 for g in gens}
    items = sum(man[g]["urls_scheduled"] + man[g]["docs_parsed"] for g in gens)
    phases: dict[int, dict[str, float]] = {}
    for g, label, secs in phase_log:
        phases.setdefault(g, {})[label] = secs
    overhead = [run1.seconds - sum(walls[g] for g in gens[:BEFORE]),
                run2.seconds - sum(walls[g] for g in gens[BEFORE:])]
    resume_s = resume.seconds

    with span("gate"):
        fetch = [tuple(r) for r in eng.fetch_log().orderBy("scheduled_seq")
                 .select("scheduled_seq", "url_hash", "url", "doc_id",
                         "generation").collect()]
        seen = [tuple(r) for r in eng.seen().select("url_hash", "url")
                .collect()]
        oracle = crawl_oracle(N_DOCS, seeds, rules, HOST_BUDGET, gens[-1])
        problem = crawl_mismatch(fetch, seen, oracle)
    eng.close()
    state_bytes = probes.dir_bytes(state)
    bytes_per_url = state_bytes / sum(m.get("urls_scheduled", 0)
                                      for m in man.values())
    crawl_rate = items / (run1.seconds + run2.seconds)
    gen_wall = statistics.median(walls.values())

    def med(label):
        return statistics.median(phases[g][label] for g in gens)

    result = {
        "ops": len(gens), "failed": len(gens) if problem else 0,
        "problem": problem,
        "throughput": crawl_rate, "op_wall": gen_wall,
        "cold_pass_s": resume_s,
        "bytes_per_item": bytes_per_url,
        "report": {"crawl_rate": crawl_rate, "gen_wall_s": gen_wall,
                   "gen_wall_max_s": max(walls.values()),
                   "gen_wall_count": len(walls), "resume_s": resume_s,
                   "state_bytes_per_url": bytes_per_url},
        "layers": {
            "frontier.schedule_s": med("schedule+sequence"),
            "frontier.parse_s": med("parse"),
            "frontier.writes_s": med("state writes"),
            "frontier.between_s": statistics.median(
                walls[g] - sum(phases[g].values()) for g in gens),
            "frontier.run_overhead_s": statistics.mean(overhead),
            "store.bytes_per_gen": state_bytes / len(man),
        },
        "docs_parsed": sum(man[g]["docs_parsed"] for g in gens),
    }
    if watcher:
        # generation and parse-phase windows, for the event log
        ends: dict[int, dict[str, float]] = {}
        for g, label, _, at in watcher.marks:
            ends.setdefault(g, {})[label] = at
        result["op_windows"] = [(ends[g]["state writes"] - walls[g],
                                 ends[g]["state writes"]) for g in gens]
        result["parse_windows"] = [(ends[g]["schedule+sequence"],
                                    ends[g]["parse"]) for g in gens]
        result["layers"].update(replay_layers(ctx, state, docs, HOST_BUDGET))
    return result


def replay_layers(ctx, state: str, docs, budget: int) -> dict:
    """Time each crawl layer's public entry point on the committed state."""
    from akf_cdparser_spark.crawl import bloom
    from akf_cdparser_spark.crawl.canonicalize import (canonicalize_udf,
                                                       host_of, url_hash64)
    from akf_cdparser_spark.crawl.frontier import (FRONTIER_SNAP_SCHEMA,
                                                   SEEN_SCHEMA,
                                                   global_sequence,
                                                   schedule_generation)
    from akf_cdparser_spark.crawl.robots import apply_robots
    from akf_cdparser_spark.crawl.storage import StateStore
    from akf_cdparser_spark.operators import extract as X
    from pyspark.sql import functions as F

    spark, span = ctx.spark, ctx.tracer.span
    n_shards = 16
    store = StateStore(spark, state)
    last = store.latest_generation()
    out: dict[str, float] = {}

    with span("StateStore.read") as s:
        seen = store.read_all("seen", schema=SEEN_SCHEMA).persist()
        frontier = store.read("frontier", last,
                              schema=FRONTIER_SNAP_SCHEMA).persist()
        _noop(seen)
        _noop(frontier)
    out["store.read_s"] = s.seconds
    cols = ["url", "url_hash", "host", "next_fetch_time", "depth"]
    pending = frontier.filter(~F.coalesce("validated", F.lit(False))) \
        .select(cols).persist()
    _noop(pending)

    with span("bloom.build_shards") as s:
        shards = bloom.build_shards(seen.select("url_hash"), n_shards).persist()
        _noop(shards)
    out["bloom.build_s"] = s.seconds
    with span("bloom.probe_seen") as s:
        probed = bloom.probe_seen(pending, shards, n_shards, dedupe=True) \
            .persist()
        _noop(probed)
    out["bloom.probe_s"] = s.seconds
    maybe = (bloom.prefilter_candidates(pending, shards, n_shards)
             .filter("maybe_seen").count())
    truly = probed.filter("seen_asof").count()
    out["bloom.filter_pass_ratio"] = truly / maybe if maybe else 1.0

    robots = store.read("robots", 0)
    with span("robots.apply_robots") as s:
        _noop(apply_robots(probed.drop("seen_asof"), robots))
    out["robots.gate_s"] = s.seconds

    urls = frontier.select("url").unionByName(seen.select("url")).persist()
    n_urls = urls.count()
    with span("canonicalize") as s:
        _noop(urls.select(canonicalize_udf(F.col("url")).alias("url"))
              .select("url", url_hash64("url"), host_of("url")))
    out["canon.urls_per_s"] = n_urls / s.seconds

    cands = frontier.select(cols)
    with span("frontier.global_sequence") as s:
        seq, _ = global_sequence(cands, ["next_fetch_time", "url_hash", "url"],
                                 0)
        _noop(seq)
    out["frontier.global_sequence_s"] = s.seconds
    with span("frontier.schedule_generation") as s:
        _noop(schedule_generation(cands, budget, 4))
    out["frontier.schedule_generation_s"] = s.seconds

    replay = StateStore(spark, ctx.path("replay_store"))
    fetch = store.read("fetch_log", last)
    for name, df in (("frontier", frontier), ("seen", seen),
                     ("fetch_log", fetch)):
        with span(f"StateStore.write.{name}") as s:
            replay.write(name, df, last)
        out[f"store.write_s.{name}"] = s.seconds
    with span("StateStore.commit") as s:
        replay.commit(last, ["frontier", "seen", "fetch_log"], {})
    out["store.commit_s"] = s.seconds

    slim = X.slim_docs(docs).persist()
    with span("extract.slim_docs") as s:
        _noop(slim)
    out["extract.slim_s"] = s.seconds
    with span("extract.extract_for_crawl") as s:
        parsed = X.extract_for_crawl(slim).persist()
        n_docs = parsed.count()
    out["extract.crawl_docs_per_s"] = n_docs / s.seconds
    out["extract.parse_errors"] = parsed.filter(F.col("error").isNotNull()) \
        .count()
    for df in (seen, frontier, pending, shards, probed, urls, slim, parsed):
        df.unpersist()
    return out
