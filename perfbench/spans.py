"""Driver-side layer replay with spans recorded around each layer call.

The traced run replays a workload's payloads on the driver through the
engine's public functions, one call per layer:

  pdf.document   PdfDocument(data) + get_pages()       (with lexer/parser/
                                                        filters/crypto)
  pdf.interp     Interpreter(ResourceCache(), None,
                              collect_shapes=False).process_page
                                                       (with fonts/cmaps)
  pdf.layout     analyze_container(page, LAParams(detect_vertical=True))
  pdf.extract    render_text
  html.boilerplate  extract_main_text

This chain is what ``pdf.extract.extract_pages`` runs with layout
analysis folded into ``process_page``; the benchmark checks, turn by
turn, that it yields the pipeline's text. Work the interpreter triggers
lazily in the document layer (resolving fonts, decoding content
streams) counts as pdf.interp.

Spans are (name, start, end, parent, run id) rows kept in memory and
written out at the end; no span is recorded inside the program.
"""
from __future__ import annotations

import json
import time

from pdfminer_spark.html.boilerplate import extract_main_text
from pdfminer_spark.pdf.document import PdfDocument
from pdfminer_spark.pdf.extract import ExtractionNotAllowed, render_text
from pdfminer_spark.pdf.interp import Interpreter, ResourceCache
from pdfminer_spark.pdf.layout import (
    Char, Container, LAParams, TextBox, analyze_container,
)

LAYERS = ("pdf.document", "pdf.interp", "pdf.layout", "pdf.extract",
          "html.boilerplate")
COUNTS = ("pdf.document.pages", "pdf.document.bytes", "pdf.interp.chars",
          "pdf.layout.boxes", "pdf.layout.chars", "html.boilerplate.docs")


class Spans:
    """In-memory span log. ``None`` in place of a Spans disables tracing
    at every call site."""

    def __init__(self):
        self.rows: list = []   # [name, start, end, parent, run]
        self.counts = dict.fromkeys(COUNTS, 0)

    def open(self, name: str, run: str, parent: int | None = None) -> int:
        self.rows.append([name, time.perf_counter(), 0.0, parent, run])
        return len(self.rows) - 1

    def close(self, idx: int) -> None:
        self.rows[idx][2] = time.perf_counter()

    def self_seconds(self) -> dict:
        """name -> summed self time: each span's duration minus the part
        its child spans cover (children never overlap here)."""
        child = [0.0] * len(self.rows)
        for (name, start, end, parent, _) in self.rows:
            if parent is not None:
                child[parent] += end - start
        out: dict = {}
        for (i, (name, start, end, _, _)) in enumerate(self.rows):
            out[name] = out.get(name, 0.0) + (end - start) - child[i]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fp:
            for row in self.rows:
                fp.write(json.dumps(row) + "\n")


def _count(item, kind) -> int:
    if isinstance(item, kind):
        return 1
    if isinstance(item, Container):
        return sum(_count(o, kind) for o in item.objs)
    return 0


def replay_pdf(data: bytes, page_numbers, spans: Spans | None = None,
               run: str = "") -> str:
    """The text ``extract_one`` gives for a PDF turn, one layer at a
    time."""
    la = LAParams(detect_vertical=True)
    root = spans.open("turn", run) if spans else None
    s = spans.open("pdf.document", run, root) if spans else None
    doc = PdfDocument(data)
    if not doc.is_extractable:
        raise ExtractionNotAllowed("text extraction is not allowed")
    pages = [p for (i, p) in enumerate(doc.get_pages())
             if page_numbers is None or i in page_numbers]
    if spans:
        spans.close(s)
        spans.counts["pdf.document.pages"] += len(pages)
        spans.counts["pdf.document.bytes"] += len(data)
    interp = Interpreter(ResourceCache(), None, collect_shapes=False)
    out: list = []
    for page in pages:
        s = spans.open("pdf.interp", run, root) if spans else None
        lt = interp.process_page(page)
        if spans:
            spans.close(s)
            spans.counts["pdf.interp.chars"] += _count(lt, Char)
            s = spans.open("pdf.layout", run, root)
        analyze_container(lt, la)
        if spans:
            spans.close(s)
            spans.counts["pdf.layout.boxes"] += sum(
                isinstance(o, TextBox) for o in lt.objs)
            spans.counts["pdf.layout.chars"] += _count(lt, Char)
            s = spans.open("pdf.extract", run, root)
        render_text(lt, out)
        out.append("\f")
        if spans:
            spans.close(s)
    if spans:
        spans.close(root)
    return "".join(out)


def replay_html(html: str, spans: Spans | None = None, run: str = "") -> str:
    root = spans.open("turn", run) if spans else None
    s = spans.open("html.boilerplate", run, root) if spans else None
    text = extract_main_text(html)
    if spans:
        spans.close(s)
        spans.close(root)
        spans.counts["html.boilerplate.docs"] += 1
    return text


def replay(items: list, spans: Spans | None = None) -> list:
    """Replay ``items`` = [(run id, tool, payload, page_numbers)]; returns
    the texts in order."""
    return [replay_pdf(payload, pages, spans, run) if tool == "pdf"
            else replay_html(payload, spans, run)
            for (run, tool, payload, pages) in items]
