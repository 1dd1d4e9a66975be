"""Correctness gates. Each returns ``None`` when the output matches its
oracle, else a one-line description of the first difference. They run
outside the timed region; ``selfcheck`` feeds them planted faults."""

from __future__ import annotations

import json


def crawl_mismatch(fetch_rows: list[tuple], seen_rows: list[tuple],
                   oracle: dict) -> str | None:
    """``fetch_rows``: (seq, url_hash, url, doc_id, generation) in seq order;
    ``seen_rows``: (url_hash, url). ``oracle``: ``crawl_oracle`` output."""
    want = [tuple(r) for r in oracle["fetch_log"]]
    got = [tuple(r) for r in fetch_rows]
    if got != want:
        if len(got) != len(want):
            return f"fetch_log has {len(got)} rows, oracle {len(want)}"
        i = next(k for k, (a, b) in enumerate(zip(got, want)) if a != b)
        return f"fetch_log row {i}: {got[i]} != oracle {want[i]}"
    seen = dict(seen_rows)
    if len(seen) != len(seen_rows):
        return f"seen set has {len(seen_rows) - len(seen)} duplicate hashes"
    if seen != oracle["seen"]:
        extra = len(seen.keys() - oracle["seen"].keys())
        missing = len(oracle["seen"].keys() - seen.keys())
        return f"seen set differs: {extra} extra, {missing} missing"
    return None


def expected_record(text: str) -> dict:
    """What ``extract_records`` must emit for one document, computed with the
    kernel in this process."""
    from akf_cdparser_spark.kernel import parse_document

    rec, _lineage, counts = parse_document(text or "")
    return {"record_json": json.dumps(rec, ensure_ascii=False, default=str),
            "error": "; ".join(rec.get("_errors", [])) or None,
            "n_categories": len(counts)}


def extract_mismatch(rows: dict[str, dict], expected: dict[str, dict]
                     ) -> str | None:
    """``rows``/``expected``: doc_id -> {record_json, error, n_categories}."""
    if rows.keys() != expected.keys():
        return (f"sample rows {sorted(rows.keys() ^ expected.keys())[:3]} "
                f"missing or extra")
    for doc_id in sorted(expected):
        for k, v in expected[doc_id].items():
            if rows[doc_id].get(k) != v:
                return f"{doc_id}.{k} differs from the in-process kernel"
    return None
