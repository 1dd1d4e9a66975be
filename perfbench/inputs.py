"""Seeded inputs for the benchmark workloads.

The workload seed picks the crawl seed URLs and the extraction batch; the
doc store itself is the fixed synthetic CD corpus (``fixtures.synth_html``),
written to parquet and read back so store scans are real scans.

The curation tables are generated, because a run may read nothing outside
its checkout. Their shape is not documented in the repository (TESTDATA.md
covers only the TPC-H-style tables and ``events``), so each parameter below
was measured on the sf0.01 and sf0.1 ``documents`` / ``embeddings`` parquet
tables that the test suite reads (``tests/test_analytics.py``,
``tests/test_plans.py``):

* ``documents``: text drawn from the same 30 words (``VOCAB``), 10-100
  tokens uniform (measured range 10-100, mean 54); 5.0% near duplicates,
  a copy of an earlier doc with one ``dup`` token inserted (25 of 500 and
  250 of 5,000); 0.16% exact copies (8 pairs in sf0.1, none in sf0.01);
  ``lang`` 41-44% ``en`` and about 14-15% each ``de``/``fr``/``es``/``zh``;
  ``source`` ``src{doc_id % 20}``; ``n_chars`` the text length.
* ``embeddings``: 64-d float32 unit vectors with a ``label`` in 0-9. The
  labels carry no direction: the mean cosine of a vector to its label's
  centroid is 0.146 at 50 vectors per label and 0.071 at 200, i.e.
  1/sqrt(vectors per label), what isotropic random vectors give. So the
  vectors are drawn isotropically.
* Sizes: 500 documents and 500 vectors, the sf0.01 row counts.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ("en", "en", "en", "de", "fr", "es", "zh")
EXACT_DUP = 0.0016
NEAR_DUP = 0.05
EMB_DIM = 64
EMB_LABELS = 10


def crawl_seeds(seed: int, n_docs: int, n_seeds: int) -> list[dict]:
    """``n_seeds`` distinct doc URLs of the store, sampled by ``seed``."""
    from akf_cdparser_spark import fixtures

    idx = sorted(random.Random(seed).sample(range(n_docs), n_seeds))
    return [{"url": fixtures.url_for(i)} for i in idx]


def batch_indices(seed: int, n_docs: int, n_batch: int) -> list[int]:
    return sorted(random.Random(seed ^ 0x5EED).sample(range(n_docs), n_batch))


SPAN_TYPE = pa.list_(pa.struct([
    ("kind", pa.string()), ("text", pa.string()),
    ("media_ref", pa.string()), ("offset", pa.int32())]))


def write_doc_store(spark, path: str, n_docs: int, partitions: int,
                    files: int):
    """Synthesize the CD doc store (docs 0..n_docs-1) into ``files``
    parquet files and return the re-read frame with ``partitions``
    partitions (the store layout the crawl sees)."""
    return _round_trip(spark, list(range(n_docs)), n_docs, path, partitions,
                       files)


def write_batch_store(spark, path: str, n_docs: int, indices: list[int],
                      partitions: int):
    """The extraction batch: the chosen doc indices of an ``n_docs`` corpus,
    as (doc_id, spans) parquet, re-read with ``partitions`` partitions."""
    return _round_trip(spark, indices, n_docs, path, partitions, partitions)


def _round_trip(spark, indices: list[int], n_docs: int, path: str,
                partitions: int, files: int):
    """Write the (doc_id, spans) rows of ``indices`` to ``files`` parquet
    files and read them back as ``partitions`` partitions. The documents
    are rendered in this process: a thousand take about 0.1 s, where a
    Spark job would bill its own start-up to the store."""
    from akf_cdparser_spark import fixtures

    os.makedirs(path)
    for k in range(files):
        part = indices[len(indices) * k // files:
                       len(indices) * (k + 1) // files]
        pq.write_table(pa.table({
            "doc_id": pa.array([fixtures.doc_id_for(i) for i in part],
                               pa.string()),
            "spans": pa.array([fixtures.html_to_spans(
                fixtures.synth_html(i, n_docs)) for i in part], SPAN_TYPE),
        }), os.path.join(path, f"part-{k:05d}.parquet"))
    docs = spark.read.parquet(path)
    if docs.rdd.getNumPartitions() != partitions:
        docs = docs.repartition(partitions)
    return docs


def write_curation_tables(out_dir: str, seed: int, n_docs: int,
                          n_vecs: int) -> None:
    """``documents.parquet`` and ``embeddings.parquet`` under ``out_dir``."""
    rng = random.Random(seed)
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 0 and r < EXACT_DUP:
            texts.append(texts[rng.randrange(i)])
        elif i > 0 and r < EXACT_DUP + NEAR_DUP:
            words = texts[rng.randrange(i)].split()
            words.insert(rng.randrange(len(words) + 1), "dup")
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(VOCAB)
                                  for _ in range(rng.randint(10, 100))))
    docs = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([rng.choice(LANGS) for _ in range(n_docs)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(docs, f"{out_dir}/documents.parquet")

    nrng = np.random.default_rng(seed)
    vecs = nrng.normal(size=(n_vecs, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(nrng.integers(0, EMB_LABELS, size=n_vecs,
                                        dtype=np.int32)),
    })
    pq.write_table(emb, f"{out_dir}/embeddings.parquet")
