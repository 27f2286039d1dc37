"""Span-level extraction output — the engine's central nested type
(SURVEY §1.1 #4): per-page arrays of hOCR lines with bbox / textangle /
baseline and positioned words (render-mode-3 "text layer" as data,
SURVEY §1.1 #5; ref: pypdfocr/pypdfocr_pdf.py:269-351).

Same plan as pipeline.extract — the same branch split, page explode,
salt and JVM reassembly — with the page kernel ``corpus.page_spans`` in
place of ``corpus.page_text`` and the parsed spans carried as data:

* light docs: ``corpus.extract_doc_spans``, nested structs straight
  through Arrow;
* heavy docs: each page's spans ride the reassembly as a nested column
  (the shuffle carries text + spans only, never payloads).
"""

from __future__ import annotations

import time

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StructField,
    StructType,
)

from . import corpus as ck
from .config import ExtractConfig
from .kernels import hocr
from .kernels.normalize import normalize_page_text
from .kernels.route import first_matching_folder, route_document
from .pipeline import _jvm_reassemble, salted_pages, split_branches
from .schema import EXTRACTED_SCHEMA, LINE_SCHEMA, PAGE_TEXT_SCHEMA
from .session import per_batch

PAGE_SPANS_FIELD = StructField(
    "spans",
    ArrayType(
        StructType(
            [
                StructField("page_no", IntegerType(), False),
                StructField("lines", ArrayType(LINE_SCHEMA), True),
            ]
        )
    ),
    True,
)
EXTRACTED_SPANS_SCHEMA = StructType(EXTRACTED_SCHEMA.fields + [PAGE_SPANS_FIELD])
PAGE_TEXT_SPANS_SCHEMA = StructType(
    PAGE_TEXT_SCHEMA.fields + [StructField("lines", ArrayType(LINE_SCHEMA), True)]
)


def _doc_rows_with_spans(pdf: pd.DataFrame, cfg: ExtractConfig) -> pd.DataFrame:
    out = []
    for url, ts, payload, lang in zip(pdf["url"], pdf["warc_ts"], pdf["html"], pdf["lang"]):
        t0 = time.monotonic()
        payload = bytes(payload)
        try:
            spans_by_page, status = ck.extract_doc_spans(payload)
        except Exception as exc:  # data error → row, never task failure
            spans_by_page, status = [], f"error:{type(exc).__name__}"
        page_texts = [hocr.page_text_from_spans(s) for s in spans_by_page]
        text = "\n".join(page_texts)
        route = route_document(
            [normalize_page_text(p) for p in page_texts], url, cfg.targets,
            use_filename=cfg.use_filename, default=cfg.default_route,
        )
        spans = [{"page_no": i, "lines": lines} for i, lines in enumerate(spans_by_page)]
        out.append(
            (url, ts, lang, text, normalize_page_text(text), route,
             len(page_texts), status, len(payload), (time.monotonic() - t0) * 1000.0, spans)
        )
    return pd.DataFrame(out, columns=EXTRACTED_SPANS_SCHEMA.names)


def _page_rows_with_spans(pdf: pd.DataFrame, cfg: ExtractConfig) -> pd.DataFrame:
    out = []
    for url, ts, lang, pno, n, height, dpi, kind, body, status, nbytes in zip(
        pdf["url"], pdf["warc_ts"], pdf["lang"], pdf["page_no"], pdf["n_pages"],
        pdf["height_pt"], pdf["output_dpi"], pdf["page_kind"], pdf["page_json"],
        pdf["status"], pdf["byte_count"],
    ):
        t0 = time.monotonic()
        lines = []  # a zero-page carrier keeps its split status
        if kind is not None:
            lines, status = ck.page_spans((kind, body), int(dpi), float(height))
        text = hocr.page_text_from_spans(lines)
        norm = normalize_page_text(text)
        out.append(
            (url, ts, lang, int(pno), int(n), text, norm,
             first_matching_folder(norm, cfg.targets), status, int(nbytes),
             (time.monotonic() - t0) * 1000.0, lines)
        )
    return pd.DataFrame(out, columns=PAGE_TEXT_SPANS_SCHEMA.names)


def extract_spans(corpus_df: DataFrame, cfg: ExtractConfig | None = None) -> DataFrame:
    """Extraction with the ``spans`` nested column populated (both paths).

    Always runs the builtin codec chain: the span tree comes from the
    engine's own hOCR emit/parse round-trip. (A subprocess-backed spans
    variant would parse real tesseract hOCR through the same
    kernels.hocr parser — the parser is shared; only the wiring is
    builtin-pinned here.)"""
    from dataclasses import replace

    cfg = replace(cfg or ExtractConfig(), ocr_strategy="builtin")
    light, heavy = split_branches(corpus_df, cfg)
    light_out = light.mapInPandas(
        per_batch(_doc_rows_with_spans, cfg), EXTRACTED_SPANS_SCHEMA
    )
    pages = salted_pages(heavy, cfg).mapInPandas(
        per_batch(_page_rows_with_spans, cfg), PAGE_TEXT_SPANS_SCHEMA
    )
    return light_out.unionByName(_jvm_reassemble(pages, cfg))
