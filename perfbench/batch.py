"""``batch_curate``: the reference's batch HTML -> JSON conversion
(``extract_records``) followed by one pass over the curation legs. No crawl
module runs here."""

from __future__ import annotations

import os
import random
import statistics
import time

import curate
import inputs
import probes
from gates import expected_record, extract_mismatch

N_INDEX = 16000   # corpus the batch indices are drawn from
N_BATCH = 1000    # documents per extraction batch
N_SAMPLE = 40     # gated rows per batch
CURATE_DOCS = 500
CURATE_VECS = 500
LEGS_PER_PASS = 2  # curation legs between two extraction passes


def run(ctx) -> dict:
    import duckdb
    from akf_cdparser_spark import fixtures
    from akf_cdparser_spark.operators import extract as X
    from pyspark.sql import functions as F

    spark, span = ctx.spark, ctx.tracer.span
    idx = inputs.batch_indices(ctx.seed, N_INDEX, N_BATCH)
    with span("setup.batch_store"):
        # one file and one partition per core: a pass is scan -> parse ->
        # write, with no shuffle
        docs = inputs.write_batch_store(spark, ctx.path("batch"), N_INDEX, idx,
                                        ctx.cores)
    sf_dir = ctx.path("curation")
    os.makedirs(sf_dir)
    with span("setup.curation_tables"):
        inputs.write_curation_tables(sf_dir, ctx.seed, CURATE_DOCS,
                                     CURATE_VECS)
    with span("setup.warm_batch"):
        X.extract_records(docs).write.parquet(ctx.path("out_warm"))
    ctx.setup_done()

    cpu0, t0 = probes.tree_cpu_seconds(), time.time()
    passes = []  # (span, output dir)

    def extraction_pass():
        out = ctx.path(f"out_{len(passes)}")
        with span("extract_records") as s:
            X.extract_records(docs).write.parquet(out)
        passes.append((s, out))

    # extraction passes interleave with the curation legs, so the median
    # pass samples the whole measured window and not only its first seconds
    legs, results = {}, {}
    for i, leg in enumerate(curate.LEGS):
        if i % LEGS_PER_PASS == 0:
            extraction_pass()
        with span(f"curate.{leg}") as s:
            try:
                results[leg] = curate.leg_plan(spark, sf_dir, ctx.path(leg),
                                               leg)().toPandas()
            except Exception as exc:  # a crashed leg is a failed operation
                results[leg] = exc
        legs[leg] = s
    extraction_pass()
    while time.time() - t0 < ctx.seconds:
        extraction_pass()
    ctx.measured(time.time() - t0, probes.tree_cpu_seconds() - cpu0)

    with span("gate"):
        sample = sorted(random.Random(ctx.seed).sample(idx, N_SAMPLE))
        ids = [fixtures.doc_id_for(i) for i in sample]
        expected = {fixtures.doc_id_for(i): expected_record(
            fixtures.spans_to_text(fixtures.html_to_spans(
                fixtures.synth_html(i, N_INDEX)))) for i in sample}
        problems = []
        # every pass's output in one scan, each row tagged with its pass
        got = (spark.read.parquet(*(out for _, out in passes))
               .withColumn("pass", F.regexp_extract(
                   F.input_file_name(), r"/out_(\d+)/", 1).cast("int")))
        counts = dict(got.groupBy("pass").count().collect())
        sample_rows: dict[int, dict] = {}
        for r in (got.filter(F.col("doc_id").isin(ids))
                  .select("pass", "doc_id", "record_json", "error",
                          "n_categories").collect()):
            row = r.asDict()
            sample_rows.setdefault(row.pop("pass"), {})[row["doc_id"]] = row
        for k in range(len(passes)):
            n_rows = counts.get(k, 0)
            bad = (f"{n_rows} rows, want {N_BATCH}" if n_rows != N_BATCH
                   else extract_mismatch(sample_rows.get(k, {}), expected))
            if bad:
                problems.append(f"extract_records pass {k}: {bad}")
        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{sf_dir}/{t}.parquet')")
        for leg, pdf in results.items():
            if isinstance(pdf, Exception):
                problems.append(f"{leg}: {type(pdf).__name__}: {pdf}")
                continue
            res = curate.oracle_result(leg, pdf, sf_dir, con)
            if not res["ok"]:
                problems.append(f"{leg}: {res['status']} {res.get('detail', '')}")

    pass_s = [s.seconds for s, _ in passes]
    leg_s = {leg: s.seconds for leg, s in legs.items()}
    extract_rate = N_BATCH * len(passes) / sum(pass_s)
    curate_s = sum(leg_s.values())
    out_bytes = probes.dir_bytes(passes[0][1])
    result = {
        "ops": len(passes) + len(legs),
        "failed": len(problems),  # one problem per failed operation
        "problem": "; ".join(problems)[:2000] or None,
        "op_wall": statistics.median(pass_s),
        "throughput": extract_rate,
        "cold_pass_s": curate_s,
        "bytes_per_item": out_bytes / N_BATCH,
        "report": {"extract_rate": extract_rate, "curate_s": curate_s,
                   "extract_passes": len(passes)},
        "layers": {f"analytics.{leg}_s": v for leg, v in leg_s.items()},
        "op_windows": [(s.start, s.end) for s, _ in passes]
        + [(s.start, s.end) for s in legs.values()],
    }
    result["layers"]["extract.parse_errors"] = (
        spark.read.parquet(passes[0][1]).filter(F.col("error").isNotNull())
        .count())
    if ctx.trace:
        slim = X.slim_docs(docs).persist()
        with span("extract.slim_docs") as s:
            slim.write.format("noop").mode("overwrite").save()
        result["layers"]["extract.slim_s"] = s.seconds
        with span("extract.extract_for_crawl") as s:
            n = X.extract_for_crawl(slim).persist().count()
        result["layers"]["extract.crawl_docs_per_s"] = n / s.seconds
    return result
