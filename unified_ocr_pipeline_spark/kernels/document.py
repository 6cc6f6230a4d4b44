"""Per-document extraction kernel: sniff → parse → split → fields.

This is the single deterministic function both execution paths share:
the Spark ``mapInPandas`` stage calls it per document inside an Arrow batch,
and the sequential oracle calls it in a plain loop — byte-identical output
by construction, pinned by golden tests (SURVEY.md §5).

Reference dataflow reimplemented (SURVEY.md §3.1 step 4,
/root/reference/scripts/unified_ocr_pipeline.py:122-335):
  page loop → PO extraction+validation (F1/F2, :198-231)
  → page classification (W4, :233-235)
  → per-doc aggregates (A1-A3, :238-239, 305-307)
  → combined text with the exact page separator (K5, :327)
  → field extraction via the deterministic regex path (:1027-1049).
The PDF *file* split (K2) materializes as labeled span rows instead of
split PDFs (SURVEY.md §2.1 K2): spans carry per-page/per-block character
offsets into the extracted text.
"""

from __future__ import annotations

import dataclasses
from dataclasses import dataclass, field
from typing import Dict, List, Optional

from . import sniff
from . import pdf_layout
from . import html_extract
from . import fields as F

# K5 — the byte-identity page separator (unified_ocr_pipeline.py:327)
PAGE_BREAK = "\n\n--- PAGE BREAK ---\n\n"

# W4 — split-anchor phrase (:234)
ANCHOR_PHRASE = "purchase order"

# Reference's unknown-PO sentinel (:242-244)
UNKNOWN_PO = "UNKNOWN_PO"

# Oversize guard — analog of MAX_FILE_SIZE_MB (reference .env.example;
# SURVEY.md §4 X9). Unit is bytes of the raw payload.
DEFAULT_MAX_BYTES = 8 * 1024 * 1024

STATUS_OK = "ok"
STATUS_EMPTY = "empty"
STATUS_OVERSIZE = "oversize"
STATUS_ERROR = "error"


@dataclass
class Span:
    label: str     # 'po' | 'router' | 'main'
    page_no: int   # 1-based, like the reference's page_number (:152)
    start: int     # char offset into extracted_text (inclusive)
    end: int       # char offset (exclusive)


@dataclass
class DocumentResult:
    url: str
    content_type: str
    status: str
    total_pages: int
    po_page_count: int
    router_page_count: int
    total_text_length: int
    extracted_text: str
    po_number: str
    spans: List[Span] = field(default_factory=list)
    fields: Dict[str, str] = field(default_factory=dict)
    quality_clauses: Dict[str, str] = field(default_factory=dict)
    # P2/A2 (reference :158-170, 1076-1082): per-page embedded-image counts
    # and their document total — counted, never decoded (codec-free)
    image_counts: List[int] = field(default_factory=list)
    total_images: int = 0


def classify_pages(pages: List[str]) -> List[bool]:
    """W4 (:233-235): page i is a PO page iff i < 2 or the page text
    contains the anchor phrase (case-insensitive)."""
    return [
        page_num < 2 or (bool(text) and ANCHOR_PHRASE in text.lower())
        for page_num, text in enumerate(pages)
    ]


def _paged_result(
    url: str,
    content_type: str,
    pages: List[str],
    image_counts: Optional[List[int]] = None,
) -> DocumentResult:
    po_number = F.find_po_number(pages)
    is_po = classify_pages(pages)

    # spans: cumulative offsets of pages within the combined text (W4 analog
    # of `sum(length) over (order by page_no)`)
    spans: List[Span] = []
    pos = 0
    for i, text in enumerate(pages):
        if i > 0:
            pos += len(PAGE_BREAK)
        spans.append(
            Span(
                label="po" if is_po[i] else "router",
                page_no=i + 1,
                start=pos,
                end=pos + len(text),
            )
        )
        pos += len(text)

    extracted_text = PAGE_BREAK.join(pages)
    final_po = po_number if po_number else UNKNOWN_PO
    field_record = F.fallback_regex_extraction(pages, final_po)
    quality_clauses = field_record.pop("Quality_Clauses")
    image_counts = list(image_counts) if image_counts else [0] * len(pages)

    return DocumentResult(
        url=url,
        content_type=content_type,
        status=STATUS_OK,
        total_pages=len(pages),
        po_page_count=sum(is_po),
        router_page_count=len(pages) - sum(is_po),
        total_text_length=sum(len(t) for t in pages),
        extracted_text=extracted_text,
        po_number=final_po,
        spans=spans,
        fields={k: str(v) for k, v in field_record.items()},
        quality_clauses=dict(quality_clauses),
        image_counts=image_counts,
        total_images=sum(image_counts),
    )


def _html_result(url: str, html_bytes: bytes) -> DocumentResult:
    html_text = html_bytes.decode("utf-8", errors="replace")
    main_text, offsets = html_extract.extract_main_text(html_text)
    if not main_text:
        # boilerplate-only page: report it like every other empty document
        # (0 pages, empty fields) — a phantom total_pages=1/po_page_count=1
        # row would inflate corpus page aggregates relative to empty
        # PDF/text docs
        return _empty_result(url, sniff.HTML, STATUS_EMPTY)
    # HTML doc = one logical page of main content, spanned per main block
    n_img = html_text.lower().count("<img")
    return dataclasses.replace(
        _paged_result(url, sniff.HTML, [main_text], [n_img]),
        spans=[Span(label="main", page_no=1, start=s, end=e) for s, e in offsets],
    )


def _empty_result(url: str, content_type: str, status: str) -> DocumentResult:
    return DocumentResult(
        url=url,
        content_type=content_type,
        status=status,
        total_pages=0,
        po_page_count=0,
        router_page_count=0,
        total_text_length=0,
        extracted_text="",
        po_number=UNKNOWN_PO,
        spans=[],
        fields={k: "" for k in F.FIELD_NAMES},
        quality_clauses={},
    )


def oversize_result(url: str, prefix: Optional[bytes]) -> DocumentResult:
    """Quarantine record for a payload that exceeded the size cap. The
    engine's JVM-side guard ships only a sniffing prefix, never the payload
    (X9, SURVEY.md §4)."""
    return _empty_result(url, sniff.sniff_content_type(prefix), STATUS_OVERSIZE)


def process_document(
    url: str,
    payload: Optional[bytes],
    text: Optional[str],
    max_bytes: int = DEFAULT_MAX_BYTES,
) -> DocumentResult:
    """Extract one document. ``payload`` is the raw ``html`` binary column;
    ``text`` is the crawl's pre-extracted text layer (used when the payload
    is absent/unsniffable — the reference's text-layer fast path, :146).
    """
    if payload is not None and len(payload) > max_bytes:
        # X9 size guard: oversized rows are quarantined, never parsed —
        # same record the JVM-side gate produces (plans/extraction.py)
        return oversize_result(url, payload[:16])

    ctype = sniff.sniff_content_type(payload)

    if ctype == sniff.PDF:
        # S4: strict layout-aware parse first; a malformed payload falls
        # back to the lenient line-scan backend (reference's
        # pymupdf→pdfplumber cascade, :42-61/:1051-1093). Only a payload
        # neither backend can extract anything from is quarantined.
        pages, image_counts, _backend = pdf_layout.parse_with_backend(payload)  # type: ignore[arg-type]
        if not pages:
            return _empty_result(url, ctype, STATUS_ERROR)
        return _paged_result(url, ctype, pages, image_counts)

    if ctype == sniff.HTML:
        return _html_result(url, payload)  # type: ignore[arg-type]

    # TEXT / EMPTY: fall back to the pre-extracted text column.
    if text:
        return _paged_result(url, sniff.TEXT, [text])
    return _empty_result(url, ctype, STATUS_EMPTY)
