"""Seeded, file-by-file input generator for the extraction benchmark.

Every workload input is a directory of parquet files in the engine's
``pages`` schema (url, warc_ts, html, text, lang). Files are generated and
written one at a time from ``random.Random(f"{seed}:{name}:{file_index}")``,
so memory is bounded by one file's rows (the oversize payloads included)
and a file's content does not depend on how many files precede it.

The generator is self-contained: it writes PDF-SYN payloads and HTML pages
itself instead of importing the engine's fixture module, so a change to the
engine never changes the benchmark's inputs. Re-crawled urls (``dup-url``)
copy an earlier row of the same file with a later ``warc_ts``; url
ranges of different files never overlap, so per-file inputs (cron ticks)
dedup independently.

Outputs are cached under ``<cache>/<name>-<params hash>-s<seed>/`` and
published with an atomic rename, so an interrupted generation is never
reused.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import random
import shutil
from dataclasses import asdict, dataclass
from typing import Dict, List, Optional, Tuple

import pyarrow as pa
import pyarrow.parquet as pq

PAGES_SCHEMA = pa.schema(
    [
        pa.field("url", pa.string()),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ]
)

# class weights of a crawl; ``pdf-truncated`` is a PDF-SYN payload cut
# short, which fails the strict parse and takes the lenient fallback
FULL_MIX: Dict[str, int] = {
    "po-clean": 22,
    "po-ocr-noise": 5,
    "po-anchor-late": 5,
    "po-unknown": 5,
    "po-nonstandard-terms": 5,
    "html-article": 33,
    "html-empty-main": 10,
    "pdf-layout": 7,
    "text-only": 5,
    "oversize": 2,
    "dup-url": 1,
    "pdf-truncated": 1,
}

HEAVY_HOST = "heavy.example.com"
HEAVY_SHARE = 0.32
N_LIGHT_HOSTS = 47
_EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
_WORDS = (
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod "
    "tempor incididunt labore dolore magna aliqua enim minim veniam quis "
    "nostrud exercitation ullamco laboris nisi aliquip commodo consequat"
).split()
_LANGS = ["en"] * 8 + ["de", "fr"]


@dataclass(frozen=True)
class InputSpec:
    """What to generate: ``files`` parquet files of ``docs_per_file`` rows
    drawn from ``mix`` at ``content_scale``. Oversize payloads are
    ``max_bytes + 1024`` bytes."""

    name: str
    files: int
    docs_per_file: int
    mix: Tuple[Tuple[str, int], ...]
    content_scale: int
    max_bytes: int

    def key(self, seed: int) -> str:
        blob = json.dumps(asdict(self), sort_keys=True).encode()
        return f"{self.name}-{hashlib.sha1(blob).hexdigest()[:10]}-s{seed}"


def _sentence(rng: random.Random, n: int) -> str:
    return " ".join(rng.choices(_WORDS, k=n))


def _po_number(rng: random.Random) -> str:
    return "45" + "".join(rng.choice("0123456789") for _ in range(8))


def _po_pages(rng: random.Random, variant: str, scale: int) -> List[str]:
    po = _po_number(rng)
    header = f"PURCHASE ORDER {po}"
    if variant == "po-unknown":
        header = "PURCHASE REQUEST (number pending)"
    elif variant == "po-ocr-noise":
        pos = rng.randrange(2, 10)
        swap = {"5": "6", "6": "5", "3": "8", "8": "0", "0": "8", "1": "7", "7": "1"}
        noisy = po[:pos] + swap.get(po[pos], po[pos]) + po[pos + 1:]
        header = f"PURCHASE ORDER {po}\nConfirmation of Purchase Order {po}\nRef {noisy}"
    month, day = rng.randint(1, 12), rng.randint(1, 28)
    terms = "Net 45" if variant == "po-nonstandard-terms" else "Net 30 Days"
    qcodes = rng.sample([5, 8, 10, 11, 43], k=3)
    page1 = "\n".join(
        [
            header,
            "Vendor address:",
            "TEK ENTERPRISES, INC.",
            f"Vendor number: {rng.randint(10000, 99999)}",
            f"Date: {month}/{day}/2024",
            f"Buyer/phone: {rng.choice(['J. SMITH', 'A. JONES', 'M. LEE'])} / "
            f"555-{rng.randint(100, 999)}-{rng.randint(1000, 9999)}",
            f"Buyer E-mail: buyer{rng.randint(1, 99)}@example.com",
            f"Production Order: {rng.randint(100000000, 999999999)}",
            f"QTY SHIP: {rng.randint(1, 999)} EA",
            f"PART NUMBER: {rng.randint(100000, 999999)}-{rng.randint(1, 9)}SA "
            f"OP{rng.randint(1, 9)}0",
            f"Promise Delivery Date: {month}/{day}/2024",
            f"DPAS Rating: {rng.choice('ABCD')}{rng.randint(1, 9)}",
            f"Payment terms: {terms}",
            f"Total amount: {rng.randint(1, 99)},{rng.randint(100, 999)}."
            f"{rng.randint(10, 99)}",
        ]
    )
    page2 = "\n".join(
        ["CONTINUATION PAGE", "Quality Clauses: " + ", ".join(f"Q{q}" for q in qcodes)]
        + [
            f"Q{q} "
            + rng.choice(["INSPECTION REQUIRED", "MATERIAL CERTS NEEDED", "SPECIAL PACKAGING"])
            for q in qcodes
        ]
        + [_sentence(rng, 12)]
    )
    router = [
        "ROUTER SECTION\n"
        + "\n".join(
            f"Operation {i * 10}: {_sentence(rng, 4 * scale)}"
            for i in range(1, rng.randint(2, 5) * scale)
        )
        for _ in range(rng.randint(1, 3) * scale)
    ]
    if variant == "po-anchor-late":
        router.append(
            f"APPENDIX\nsee the original purchase order for details\n{_sentence(rng, 8)}"
        )
    return [page1, page2] + router


def _pdf_syn(rng: random.Random, pages: List[str]) -> bytes:
    """PDF-SYN payload: each page's lines chunked into 1-3 line blocks at
    successive y positions, stored in shuffled physical order, followed by
    0-2 image records."""
    out = ["%PDF-SYN1"]
    for page_no, text in enumerate(pages, start=1):
        lines = text.split("\n")
        blocks = []
        y, i = 10, 0
        while i < len(lines):
            k = rng.randint(1, 3)
            blocks.append((y, lines[i : i + k]))
            y += 20 * k
            i += k
        rng.shuffle(blocks)
        out.append(f"P {page_no}")
        for y, block in blocks:
            out.append(f"B {y} 0")
            out.extend(block)
            out.append("E")
        out.extend(f"I {5 + 7 * j} 3 {1000 + 37 * j}" for j in range(len(text) % 3))
    return "\n".join(out).encode("utf-8")


def _html_article(rng: random.Random, scale: int) -> bytes:
    nav = " ".join(f'<a href="/{w}">{w}</a>' for w in rng.sample(_WORDS, k=6))
    side = " ".join(
        f'<a href="/p/{i}">{rng.choice(_WORDS)} {rng.choice(_WORDS)}</a>' for i in range(8)
    )
    paras = "\n".join(
        f"<p>{_sentence(rng, rng.randint(15, 40))}.</p>"
        for _ in range(rng.randint(2, 6) * scale)
    )
    title = _sentence(rng, 5)
    return (
        f"<!DOCTYPE html>\n<html><head><title>{title}</title>"
        "<script>var t=1;</script><style>p{margin:0}</style></head>\n"
        f"<body>\n<nav>{nav}</nav>\n<div class='sidebar'>{side}</div>\n"
        f"<article>\n<h1>{title} headline words extra</h1>\n{paras}\n</article>\n"
        f"<footer>Copyright 2024 {_sentence(rng, 6)}</footer>\n</body></html>"
    ).encode("utf-8")


def _html_empty_main(rng: random.Random) -> bytes:
    nav = " ".join(f'<a href="/{w}">{w}</a>' for w in rng.sample(_WORDS, k=8))
    return (
        f"<!DOCTYPE html>\n<html><body><nav>{nav}</nav>"
        f"<header>{_sentence(rng, 10)}</header>"
        f"<footer>{_sentence(rng, 10)}</footer></body></html>"
    ).encode("utf-8")


def _payload(
    rng: random.Random, cls: str, scale: int, max_bytes: int
) -> Tuple[Optional[bytes], str]:
    """(html, text) columns for one document of class ``cls``."""
    if cls.startswith("po-"):
        return _pdf_syn(rng, _po_pages(rng, cls, scale)), ""
    if cls == "pdf-layout":
        pages = [
            "\n".join(_sentence(rng, 6) for _ in range(rng.randint(3, 8)))
            for _ in range(rng.randint(1, 4) * scale)
        ]
        return _pdf_syn(rng, pages), ""
    if cls == "pdf-truncated":
        full = _pdf_syn(rng, _po_pages(rng, "po-clean", scale))
        return full[: full.rindex(b"\nE")], ""  # drops the last block's terminator
    if cls == "html-article":
        return _html_article(rng, scale), _sentence(rng, 40)
    if cls == "html-empty-main":
        return _html_empty_main(rng), ""
    if cls == "text-only":
        return None, f"PO: {_po_number(rng)}\n{_sentence(rng, 5 * scale)}"
    if cls == "oversize":
        return b"%PDF-SYN1\n" + b"X" * (max_bytes + 1024), ""
    raise ValueError(f"unknown document class {cls!r}")


def file_rows(spec: InputSpec, seed: int, file_index: int) -> List[dict]:
    """Rows of one input file; depends only on (spec, seed, file_index)."""
    rng = random.Random(f"{seed}:{spec.name}:{file_index}")
    classes = [c for c, _ in spec.mix]
    weights = [w for _, w in spec.mix]
    rows: List[dict] = []
    recrawl_pool: List[dict] = []
    for j in range(spec.docs_per_file):
        i = file_index * spec.docs_per_file + j
        cls = rng.choices(classes, weights=weights, k=1)[0]
        ts = _EPOCH + dt.timedelta(seconds=i * 37 + i % 7)
        if cls == "dup-url" and recrawl_pool:
            row = dict(rng.choice(recrawl_pool), warc_ts=ts)
            rows.append(row)
            continue
        if cls == "dup-url":
            cls = "po-clean"  # nothing to re-crawl yet
        if rng.random() < HEAVY_SHARE:
            host = HEAVY_HOST
        else:
            host = f"site{rng.randrange(N_LIGHT_HOSTS):02d}.example.org"
        html, text = _payload(rng, cls, spec.content_scale, spec.max_bytes)
        row = {
            "url": f"https://{host}/{cls}/{i:08d}",
            "warc_ts": ts,
            "html": html,
            "text": text,
            "lang": rng.choice(_LANGS),
        }
        rows.append(row)
        if cls != "oversize":
            recrawl_pool.append(row)
    return rows


def generate(spec: InputSpec, seed: int, cache_dir: str, keep: int = 8) -> str:
    """Return the input directory for (spec, seed), generating it file by
    file on a cache miss. At most ``keep`` generated inputs are kept; the
    least recently used are deleted."""
    final = os.path.join(cache_dir, spec.key(seed))
    if os.path.isdir(final):
        os.utime(final)
        return final
    os.makedirs(cache_dir, exist_ok=True)
    tmp = os.path.join(cache_dir, f".tmp-{spec.key(seed)}-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for f in range(spec.files):
        table = pa.Table.from_pylist(file_rows(spec, seed, f), schema=PAGES_SCHEMA)
        pq.write_table(table, os.path.join(tmp, f"part-{f:05d}.parquet"))
        del table
    os.rename(tmp, final)
    entries = sorted(
        (e for e in os.scandir(cache_dir) if e.is_dir() and not e.name.startswith(".")),
        key=lambda e: e.stat().st_mtime,
    )
    for e in entries[:-keep]:
        shutil.rmtree(e.path, ignore_errors=True)
    return final
