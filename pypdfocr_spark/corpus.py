"""Deterministic Common-Crawl-style corpus construction (FIXTURES.md F1/F2)
and the single-machine oracle extraction.

The corpus is derived row-by-row from the driver's ``documents`` parquet
table ``(doc_id, text, lang, source, n_chars)`` — no external data, no
randomness — so the same construction runs at every scale factor and the
full pipeline output is checkable in ANSI SQL: by construction, the
normalized extracted text of a document equals its source ``text``
(repeated HEAVY_REPEAT× for the skew-tail docs), and the url is a pure
SQL expression of ``doc_id``/``source``.

Deterministic rules (mirrored in ``__spark_entry__.oracle_sql``):

* url        = ``https://site{doc_id%97}.example/{source}/{name}{suffix}``
  - name     = ``'my doc spark '`` if doc_id%20==7 else ``'p'``, + doc_id
    (spaces + a routing keyword in ~5% of names → exercises the
    filename-fallback path, ref: pypdfocr/pypdfocr_pdffiler.py:70-71,
    and the space-normalizer, ref: pypdfocr/pypdfocr_watcher.py:56-74)
  - suffix   = ``_ocr.pdf`` if doc_id%10==3, ``_test.pdf`` if doc_id%10==6
    (≈20% excluded by the S3 source filter,
    ref: pypdfocr/pypdfocr_watcher.py:95-96), else ``.html`` if
    doc_id%3==0 else ``.pdf``
* warc_ts    = 2024-01-01T00:00:00 + doc_id·37 s
* heavy tail = doc_id%100==0 → content tokens repeated HEAVY_REPEAT× →
  multi-hundred-page docs (the skew the salting stage must break,
  BASELINE.json north_star)
* html payload (doc_id%3==0): boilerplate-wrapped body, 12 tokens per <p>
* pdf payload: synthetic page codec — 8 words/line, 5 lines/page
  (40 words/page) on a US-letter px grid at the page's native dpi;
  native dpi = 200 if doc_id%7==0 else 400 if doc_id%11==0 else 300
  (exercises the dpi clamp/round/max, ref: pypdfocr/pypdfocr_gs.py:150-156);
  rotate = (doc_id+page_no)%4 → {0,90,180,270}
  (exercises the rotation corner map, ref: pypdfocr/pypdfocr_pdf.py:332-337);
  greyscale = doc_id%2==0 (device selection, ref: pypdfocr_gs.py:196-203)
"""

from __future__ import annotations

from datetime import datetime, timedelta

from .kernels import codec, hocr, htmlx
from .kernels.normalize import normalize_page_text

HEAVY_REPEAT = 200
WORDS_PER_LINE = 8
LINES_PER_PAGE = 5
WORDS_PER_PAGE = WORDS_PER_LINE * LINES_PER_PAGE
EPOCH = datetime(2024, 1, 1)

EXCLUDED_SUFFIXES = ("_ocr.pdf", "_test.pdf")  # ref: pypdfocr_watcher.py:95-96


def doc_url(doc_id: int, source: str) -> str:
    name = ("my doc spark " if doc_id % 20 == 7 else "p") + str(doc_id)
    if doc_id % 10 == 3:
        suffix = "_ocr.pdf"
    elif doc_id % 10 == 6:
        suffix = "_test.pdf"
    elif doc_id % 3 == 0:
        suffix = ".html"
    else:
        suffix = ".pdf"
    return f"https://site{doc_id % 97}.example/{source}/{name}{suffix}"


def doc_ts(doc_id: int) -> datetime:
    # mod keeps replicated ids (offset 10^7 per copy, see
    # pipeline.build_corpus_df) inside the pandas ns-timestamp range;
    # original driver ids (< 10^7) are unaffected
    return EPOCH + timedelta(seconds=37 * (doc_id % 10_000_000))


def content_tokens(doc_id: int, text: str) -> list[str]:
    toks = text.split(" ") if text else []
    if doc_id % 100 == 0:
        toks = toks * HEAVY_REPEAT
    return toks


def native_dpi(doc_id: int) -> int:
    if doc_id % 7 == 0:
        return 200
    if doc_id % 11 == 0:
        return 400
    return 300


def build_html_payload(doc_id: int, tokens: list[str]) -> bytes:
    from html import escape

    paras = [
        "<p>" + escape(" ".join(tokens[i : i + 12])) + "</p>"
        for i in range(0, len(tokens), 12)
    ]
    page = (
        "<!DOCTYPE html><html><head><title>doc</title>"
        "<style>body{font:12px}</style><script>var x=1;</script></head>"
        "<body><nav><ul><li>Home</li><li>About</li></ul></nav>"
        "<header><h1>Site Header</h1></header>"
        '<div class="main"><article>' + "".join(paras) + "</article></div>"
        "<footer>© example footer</footer>"
        "<script>trackPage();</script></body></html>"
    )
    return page.encode("utf-8")


def build_pdf_payload(doc_id: int, tokens: list[str]) -> bytes:
    dpi = native_dpi(doc_id)
    scale = dpi / 300.0
    pages = []
    for pstart in range(0, len(tokens), WORDS_PER_PAGE):
        ptoks = tokens[pstart : pstart + WORDS_PER_PAGE]
        page_no = pstart // WORDS_PER_PAGE
        words = []
        for j, t in enumerate(ptoks):
            line_no = j // WORDS_PER_LINE
            col = j % WORDS_PER_LINE
            x0 = 50 + col * 300
            y0 = 100 + line_no * 60
            b300 = [x0, y0, x0 + 20 + 12 * len(t), y0 + 40]
            words.append(
                {
                    "t": t,
                    "b": [codec.round_half_away(c * scale) for c in b300],
                    "l": line_no,
                    "fs": 10,
                }
            )
        pages.append(
            {
                "dpi": dpi,
                "rotate": (doc_id + page_no) % 4 * 90,
                "greyscale": doc_id % 2 == 0,
                "w_px": codec.round_half_away(2550 * scale),
                "h_px": codec.round_half_away(3300 * scale),
                "words": words,
            }
        )
    return codec.encode_doc(pages)


def build_corpus_row(doc_id: int, text: str, lang: str, source: str) -> dict:
    """One F1-shaped row (url, warc_ts, html, text, lang) from one
    documents-table row."""
    url = doc_url(doc_id, source)
    tokens = content_tokens(doc_id, text)
    if url.endswith(".html"):
        payload = build_html_payload(doc_id, tokens)
    else:
        payload = build_pdf_payload(doc_id, tokens)
    return {
        "url": url,
        "warc_ts": doc_ts(doc_id),
        "html": payload,
        "text": text,
        "lang": lang,
    }


# ---------------------------------------------------------------- extraction
# Page kinds of a page spec ``(kind, body)``. A SYNPDF page's body is its
# JSON line; an HTML document is one page whose body is the whole payload.
PDF_PAGE = "synpdf"
HTML_PAGE = "html"


def split_doc(payload: bytes) -> tuple[list[tuple[str, bytes]], int, float, str]:
    """Payload dispatch, the first half of the extraction contract every
    path shares: payload → (page specs, output dpi, page height in pt,
    status). A byte split that parses only the first page, for the
    geometry, so the heavy branch can run it before the salt and OCR each
    page on its own task.

    * SYNPDF → one ``(PDF_PAGE, line)`` spec per page line, geometry from
      the first page (ref: pypdfocr/pypdfocr_gs.py:117-166); a non-UTF-8
      page → no pages, ``decode_error``; a valid empty body → no pages;
    * ``<!doctype``/``<html`` head → one ``(HTML_PAGE, payload)`` spec;
    * anything else → no pages, ``unsupported``.
    """
    geom = codec.detect_geometry([])
    specs, status = [], "ok"
    lines = codec.split_pages(payload)
    if lines is None:
        head = payload.lstrip()[:15].lower()
        if head.startswith(b"<!doctype") or head.startswith(b"<html"):
            specs = [(HTML_PAGE, payload)]
        else:
            status = "unsupported"
    elif lines:
        try:
            # strict, as codec.decode_doc: a non-UTF-8 page fails the WHOLE
            # document (MAGIC and the line breaks are ASCII, so one decode
            # of the payload checks every page)
            payload.decode("utf-8")
        except UnicodeDecodeError:
            return [], geom["output_dpi"], geom["height_pt"], "decode_error"
        specs = [(PDF_PAGE, ln) for ln in lines]
        first = _load_page(lines[0])
        if first is not None:
            try:
                geom = codec.detect_geometry([first])
            except Exception as exc:  # data error → status, never a raise
                specs, status = [], f"error:{type(exc).__name__}"
    return specs, geom["output_dpi"], geom["height_pt"], status


def _load_page(body: bytes) -> dict | None:
    """A SYNPDF page line → page dict; any line that is not UTF-8 JSON of
    an object → ``None`` (graceful degradation, as codec.decode_doc)."""
    try:
        page = codec.loads_json(body)
    except Exception:
        return None
    return page if isinstance(page, dict) else None


def _page_hocr(body: bytes, output_dpi: int) -> str | None:
    """hOCR of one SYNPDF page rasterized at the document's output dpi
    (rasterize, ref: pypdfocr_gs.py:170-218; OCR, ref:
    pypdfocr_tesseract.py:154-183); ``None`` when the line is undecodable."""
    page = _load_page(body)
    if page is None:
        return None
    return hocr.emit_hocr(codec.rasterize([page], output_dpi))


def _html_text(body: bytes) -> tuple[str, str]:
    try:
        return htmlx.strip_boilerplate(body.decode("utf-8", errors="replace")), "ok"
    except Exception:
        return "", "html_error"


def page_text(spec: tuple[str, bytes], output_dpi: int) -> tuple[str, str]:
    """The page kernel, the second half of the contract: one page spec →
    (page text, status). A page whose hOCR does not parse adds no text
    and the document goes on (ref: pypdfocr/pypdfocr_pdf.py:276-281); an
    undecodable page is ``decode_error``, a failed HTML strip
    ``html_error``, and any other data error ``error:<Type>``."""
    kind, body = spec
    if kind == HTML_PAGE:
        return _html_text(body)
    try:
        hocr_doc = _page_hocr(body, output_dpi)
        if hocr_doc is None:
            return "", "decode_error"
        # text-only parse (hocr.page_texts_from_hocr); a one-page hOCR
        # holds one page div, so index 0 is the page
        texts = hocr.page_texts_from_hocr(hocr_doc)
        return (texts[0] if texts else ""), "ok"
    except Exception as exc:  # data error → status, never a raise
        return "", f"error:{type(exc).__name__}"


def page_spans(spec: tuple[str, bytes], output_dpi: int, height_pt: float) -> tuple[list[dict], str]:
    """:func:`page_text` at the span level: one page spec → (hOCR line
    spans with placement, status), same statuses. Spans are the engine's
    central nested type (SURVEY §1.1 #4; parse + placement, ref:
    pypdfocr/pypdfocr_pdf.py:269-351). HTML carries no geometry, so its
    page is one synthetic line per text line, words with empty boxes."""
    kind, body = spec
    if kind == HTML_PAGE:
        text, status = _html_text(body)
        lines = [
            {
                "bbox": [], "textangle": 0, "baseline": [0.0, 0.0],
                "words": [
                    {"text": w, "bbox": [], "font_size": 0,
                     "x_pt": 0.0, "y_pt": 0.0, "angle": 0}
                    for w in ln.split(" ") if w
                ],
            }
            for ln in text.split("\n") if ln
        ]
        return lines, status
    try:
        hocr_doc = _page_hocr(body, output_dpi)
        if hocr_doc is None:
            return [], "decode_error"
        return hocr.parse_hocr_page(hocr_doc, 1, height_pt, output_dpi), "ok"
    except Exception as exc:  # data error → status, never a raise
        return [], f"error:{type(exc).__name__}"


def _extract(payload: bytes, kernel) -> tuple[list, str]:
    """split → ``kernel`` per page → the first non-ok page status; a
    failed document has no pages."""
    specs, output_dpi, height_pt, status = split_doc(payload)
    pages = []
    for spec in specs:
        page, page_status = kernel(spec, output_dpi, height_pt)
        if page_status != "ok":
            return [], page_status
        pages.append(page)
    return pages, status


def extract_doc(payload: bytes) -> tuple[list[str], str]:
    """Single-document extraction: payload → (per-page texts, status).

    The light branch and the oracle call this; the heavy branch runs the
    same :func:`split_doc` and :func:`page_text` on separate tasks. The
    document text is ``"\\n".join(pages)`` and the per-page list feeds the
    page-early-exit routing (P2, ref: pypdfocr_pdffiler.py:66-68).
    """
    return _extract(payload, lambda spec, dpi, _height: page_text(spec, dpi))


def extract_doc_spans(payload: bytes) -> tuple[list[list[dict]], str]:
    """:func:`extract_doc` at the span level: payload → (per-page span
    lists, status)."""
    return _extract(payload, page_spans)


def oracle_extract(rows: list[dict], targets, default: str) -> list[dict]:
    """Single-machine oracle: full pipeline over F1 rows, returning
    (url, extracted_text, extracted_norm, route, n_pages, status) for every
    non-excluded row — the byte-identity reference for the Spark pipeline."""
    from .kernels.route import route_document

    out = []
    for r in rows:
        if r["url"].endswith(EXCLUDED_SUFFIXES):
            continue
        raw_pages, status = extract_doc(r["html"])
        text, n_pages = "\n".join(raw_pages), len(raw_pages)
        norm_pages = [normalize_page_text(p) for p in raw_pages]
        route = route_document(
            norm_pages, r["url"], targets, use_filename=True, default=default
        )
        out.append(
            {
                "url": r["url"],
                "extracted_text": text,
                "extracted_norm": normalize_page_text(text),
                "route": route,
                "n_pages": n_pages,
                "status": status,
            }
        )
    return out
