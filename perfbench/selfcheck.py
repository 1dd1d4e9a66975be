"""Planted-fault self-check, run at the start of every benchmark run: the
gates must pass the oracle's own output and catch a fetch_log with two
rows swapped, a seen set missing a URL, an extraction record that differs,
and a curation result with one row dropped; and the metric tables must
match ``BENCHMARK.json``. Any miss raises, so the run exits nonzero."""

from __future__ import annotations

import json
import os

from gates import crawl_mismatch, expected_record, extract_mismatch
from metrics import END_TO_END, PER_LAYER


def _check(cond: bool, what: str) -> None:
    if not cond:
        raise AssertionError(f"benchmark self-check: {what}")


def crawl_faults() -> None:
    from akf_cdparser_spark import fixtures
    from akf_cdparser_spark.crawl.oracle import crawl_oracle

    n = 200
    oracle = crawl_oracle(n, fixtures.seed_urls(20, n),
                          fixtures.robots_rules(n), 10, 3)
    fetch = [tuple(r) for r in oracle["fetch_log"]]
    seen = list(oracle["seen"].items())
    _check(len(fetch) > 2, "planted crawl too small")
    _check(crawl_mismatch(fetch, seen, oracle) is None,
           "gate rejects the oracle's own crawl")
    a, b = fetch[0], fetch[1]
    swapped = [(a[0], *b[1:]), (b[0], *a[1:])] + fetch[2:]
    _check(crawl_mismatch(swapped, seen, oracle) is not None,
           "fetch_log with two rows swapped passed")
    _check(crawl_mismatch(fetch, seen[1:], oracle) is not None,
           "seen set missing a URL passed")


def extract_faults() -> None:
    from akf_cdparser_spark import fixtures

    text = fixtures.spans_to_text(fixtures.html_to_spans(
        fixtures.synth_html(3, 50)))
    want = {"d": expected_record(text)}
    _check(extract_mismatch({"d": dict(want["d"])}, want) is None,
           "extract gate rejects the kernel's own record")
    bad = dict(want["d"], n_categories=want["d"]["n_categories"] + 1)
    _check(extract_mismatch({"d": bad}, want) is not None,
           "extraction record that differs passed")


def curation_faults(work: str) -> None:
    import duckdb

    import curate
    import inputs
    from akf_cdparser_spark.plans.oracle_check import compare
    from akf_cdparser_spark.plans.queries import REGISTRY

    os.makedirs(work, exist_ok=True)
    inputs.write_curation_tables(work, 0, 40, 130)
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{work}/{t}.parquet')")
    sql = REGISTRY["q24_dedup_exact"][1]
    rows = con.execute(sql).fetchdf()
    _check(compare("q24", curate.Collected(rows), sql, con)["ok"],
           "curation gate rejects the oracle's own rows")
    _check(not compare("q24", curate.Collected(rows.iloc[1:]), sql, con)["ok"],
           "curation result with one row dropped passed")


def metric_tables() -> None:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    for key, table in (("end_to_end", END_TO_END), ("per_layer", PER_LAYER)):
        listed = [(m["name"], m["unit"], m["better"]) for m in bench[key]]
        _check(listed == list(table), f"BENCHMARK.json {key} != metrics.py")


def run(work: str) -> None:
    crawl_faults()
    extract_faults()
    curation_faults(work)
    metric_tables()
