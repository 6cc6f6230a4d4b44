"""Correctness gate: the pipeline's extracted rows against the sequential
oracle's goldens, compared per url on extracted_text, po_number, spans and
status."""

from __future__ import annotations

import hashlib
import json
from collections import Counter
from typing import Dict, Iterable, List, Tuple

import pyarrow.parquet as pq

OUTPUT_COLUMNS = ["url", "extracted_text", "po_number", "spans", "status"]


def digest(text: str, po_number: str, spans: List[Tuple], status: str) -> str:
    blob = json.dumps([text, po_number, [list(s) for s in spans], status])
    return hashlib.sha1(blob.encode("utf-8")).hexdigest()


def golden_digests(goldens: Dict[str, object]) -> Dict[str, str]:
    """{url: digest} from ``oracle.run_oracle``'s DocumentResults."""
    return {
        url: digest(
            r.extracted_text,
            r.po_number,
            [(s.label, s.page_no, s.start, s.end) for s in r.spans],
            r.status,
        )
        for url, r in goldens.items()
    }


def output_digests(extracted_dir: str) -> List[Tuple[str, str]]:
    """(url, digest) for every row of the pipeline's extracted table."""
    t = pq.read_table(extracted_dir, columns=OUTPUT_COLUMNS)
    cols = [t.column(c).to_pylist() for c in OUTPUT_COLUMNS]
    return [
        (
            url,
            digest(
                text or "",
                po,
                [(s["label"], s["page_no"], s["start"], s["end"]) for s in spans or []],
                status,
            ),
        )
        for url, text, po, spans, status in zip(*cols)
    ]


def count_failed(golden: Dict[str, str], rows: Iterable[Tuple[str, str]]) -> Dict[str, int]:
    """Docs missing from the output, duplicated in it, differing from the
    golden, or present without a golden."""
    seen = Counter()
    different = unexpected = 0
    for url, d in rows:
        seen[url] += 1
        if seen[url] > 1:
            continue
        if url not in golden:
            unexpected += 1
        elif golden[url] != d:
            different += 1
    return {
        "missing": sum(1 for url in golden if url not in seen),
        "duplicated": sum(n - 1 for n in seen.values()),
        "different": different,
        "unexpected": unexpected,
    }
