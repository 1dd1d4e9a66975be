"""Curation legs of ``batch_curate`` and their oracle gate.

Each leg is timed as one collect of its result; the collected rows are then
compared with the leg's oracle through ``plans.oracle_check.compare``:

* registry legs use their own ``oracle_sql()`` text over DuckDB;
* q65 / q96 are pinned oracles (VALUES tables valid for one dataset only),
  so their expected rows are recomputed on this run's tables with the same
  sequential numpy twins that generated the pinned tables
  (``scripts/gen_pinned_oracles.py``);
* ``q110_adc`` times the PQ-ADC operator alone (``pq_topk_adc``); its
  per-query recall against the DuckDB brute-force top-k (q27's oracle) must
  equal the numpy twin's recall.
"""

from __future__ import annotations

import os
import sys

import pandas as pd

QUERY_IDS = [0, 7, 42, 99, 123]

LEGS = ["q21_quality", "q24_dedup_exact", "q26_simhash", "q27_embedding_topk",
        "q28_lse_histogram", "q65_ivf_recall", "q73_rolling_fingerprints",
        "q78_decontaminate", "q93_minhash_index", "q96_kmeans_int8",
        "q109_bm25_rank", "q110_adc"]


class Collected:
    """A collected result in the shape ``oracle_check.compare`` consumes."""

    def __init__(self, pdf: pd.DataFrame):
        self.pdf = pdf

    def toPandas(self) -> pd.DataFrame:
        return self.pdf


def values_sql(cols: list[tuple[str, str]], rows: list[tuple]) -> str:
    """A pinned-style oracle: ``rows`` as a typed VALUES table."""
    names = ", ".join(c for c, _ in cols)
    sel = ", ".join(f"CAST({c} AS {t}) AS {c}" for c, t in cols)
    vals = ",\n".join("  (" + ", ".join(repr(v) for v in r) + ")" for r in rows)
    return f"SELECT {sel}\nFROM (VALUES\n{vals}\n) AS t({names})"


def _twins(sf_dir: str):
    """The sequential twins, pointed at this run's tables."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    scripts = os.path.join(root, "scripts")
    if scripts not in sys.path:
        sys.path.insert(0, scripts)
    import gen_pinned_oracles as G

    G.SF001 = sf_dir
    return G


def leg_plan(spark, sf_dir: str, work_dir: str, leg: str):
    """() -> DataFrame for one leg (the plan is built inside the timed call)."""
    from akf_cdparser_spark.analytics import dedup as D
    from akf_cdparser_spark.analytics import similarity as SIM
    from akf_cdparser_spark.plans.queries import REGISTRY
    from pyspark.sql import functions as F

    if leg in REGISTRY:
        fn = REGISTRY[leg][0]
        return lambda: fn(spark, sf_dir)
    if leg == "q93_minhash_index":
        # q93's registry entry writes its index under /tmp; the same two
        # operator calls with the index in the run's own work dir
        def q93():
            docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
            is_new = (F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
                      < F.lit("4"))
            path = os.path.join(work_dir, "q93_index")
            D.write_minhash_index(docs.filter(~is_new), path)
            return D.probe_minhash_index(spark, path, docs.filter(is_new))
        return q93
    if leg == "q110_adc":
        return lambda: SIM.pq_topk_adc(
            spark.read.parquet(f"{sf_dir}/embeddings.parquet"), QUERY_IDS, k=5)
    raise KeyError(leg)


def oracle_result(leg: str, pdf: pd.DataFrame, sf_dir: str, con) -> dict:
    """Compare one leg's collected rows with its oracle."""
    from akf_cdparser_spark.plans import oracle_check
    from akf_cdparser_spark.plans.queries import REGISTRY

    name = leg
    if leg == "q65_ivf_recall":
        sql = values_sql([("query_id", "BIGINT"), ("recall", "DOUBLE")],
                         _twins(sf_dir).q65_rows())
    elif leg == "q96_kmeans_int8":
        sql = values_sql([("vec_id", "BIGINT"), ("cluster_id", "INT"),
                          ("dist", "BIGINT")], _twins(sf_dir).q96_rows())
    elif leg == "q93_minhash_index":
        sql = REGISTRY["q93_minhash_index_probe"][1]
    elif leg == "q110_adc":
        brute = con.execute(REGISTRY["q27_embedding_topk"][1]).fetchdf()
        hits = brute.merge(pdf[["query_id", "vec_id"]], how="left",
                           on=["query_id", "vec_id"], indicator=True)
        recall = (hits.assign(hit=hits["_merge"] == "both")
                  .groupby("query_id")["hit"].mean().round(4).reset_index())
        pdf = pd.DataFrame({"query_id": recall["query_id"].astype("int64"),
                            "recall": recall["hit"].astype(float)})
        sql = values_sql([("query_id", "BIGINT"), ("recall", "DOUBLE")],
                         _twins(sf_dir).q110_rows())
    else:
        sql = REGISTRY[leg][1]
    return oracle_check.compare(name, Collected(pdf), sql, con)
