"""Document-transform operators (SURVEY §2.9 T1-T6).

The reference's heavy per-document compute — DOCX→PDF
(scraper_glostrup.py:42-100), HTML clean (scraper_copenhagen.py:160-176),
document synthesis (scraper_copenhagen.py:179-246), PDF merge + cover
page (scraper_ringkoebing_skjern.py:33-67,188-243) — re-expressed as:

- pure Catalyst expressions where the transform is string-shaped
  (HTML tag strip / clean / synthesis — regexp + aggregate, codegen'd);
- Arrow-batched ``mapInPandas`` where real rendering libraries are
  required (mammoth/weasyprint/pypdf are NOT in this container — those
  steps are import-gated stubs with the Spark plumbing real and tested);
- every row wrapped in a Try-struct (ok, error) — the reference's
  per-row try/except-continue (C5, scraper.py:274-275) as data, so one
  bad document never fails the job.

Scale note: document blobs must NOT travel through shuffles at 100 TB —
transforms here are narrow (mapInPandas on the scan), and the pipeline
carries paths+metadata once blobs are landed (SURVEY §7.4).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# T2 — HTML clean / text extraction (expression-level, no UDF)

_BLOCK_TAGS = r"(?is)<(script|style|head|noscript)\b.*?</\1>"


def html_to_text(html: Column) -> Column:
    """Extract visible text from an HTML string: drop script/style blocks,
    strip tags, decode the common entities, collapse whitespace.
    Pure regexp expressions — stays in whole-stage codegen."""
    t = F.regexp_replace(html, _BLOCK_TAGS, " ")
    t = F.regexp_replace(t, r"(?i)<br\s*/?>", "\n")
    t = F.regexp_replace(t, r"<[^>]+>", " ")
    for ent, ch in [("&nbsp;", " "), ("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"')]:
        t = F.replace(t, F.lit(ent), F.lit(ch))
    t = F.regexp_replace(t, r"[ \t]+", " ")
    return F.trim(t)


def html_select_div(html: Column, css_class: str) -> Column:
    """T2 — pull the first ``<div class="...{css_class}...">...</div>``
    payload (the reference's ``div.node__content`` extraction,
    scraper_copenhagen.py:160-166). Regexp-scoped; nested same-class divs
    need the UDF path."""
    pat = rf'(?is)<div[^>]*class="[^"]*{css_class}[^"]*"[^>]*>(.*?)</div>'
    return F.regexp_extract(html, pat, 1)


def strip_images(html: Column, exts: tuple[str, ...] = ("wmf", "emf")) -> Column:
    """T1 step — drop ``<img>`` tags for unrenderable formats
    (scraper_glostrup.py:74 strips WMF/EMF before PDF rendering)."""
    pat = rf"(?is)<img[^>]*src=\"[^\"]*\.({'|'.join(exts)})\"[^>]*/?>"
    return F.regexp_replace(html, pat, "")


# ---------------------------------------------------------------------------
# T3 — document synthesis (meeting header + ordered items → one HTML doc)


def synthesize_meeting_html(
    meetings: DataFrame,
    items: DataFrame,
    key: str = "meeting_key",
    title_col: str = "title",
    item_no_col: str = "item_no",
    content_col: str = "content_html",
) -> DataFrame:
    """T3 — scraper_copenhagen.py:179-246: assemble ``Punkt {n}: {title}``
    sections in item order under a meeting header, as
    sort_array(collect_list(struct)) + aggregate concatenation (one
    shuffle on the meeting key; rendering to PDF is the separate
    import-gated step)."""
    assembled = items.groupBy(key).agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct(F.col(item_no_col), F.col(title_col), F.col(content_col)))
                ),
                lambda s: F.concat(
                    F.lit("<h2>Punkt "),
                    s[item_no_col].cast("string"),
                    F.lit(": "),
                    s[title_col],
                    F.lit("</h2>\n"),
                    F.coalesce(s[content_col], F.lit("")),
                ),
            ),
            "\n",
        ).alias("body_html")
    )
    return meetings.join(assembled, key, "left").withColumn(
        "doc_html",
        F.concat(
            F.lit("<html><body><h1>"),
            F.col(key),
            F.lit("</h1>\n"),
            F.coalesce(F.col("body_html"), F.lit("")),
            F.lit("\n</body></html>"),
        ),
    )


# ---------------------------------------------------------------------------
# T1/T4/T5 — rendering transforms. The preferred render stack
# (mammoth/weasyprint) is import-gated; when absent, a REAL pure-stdlib
# path runs instead: DOCX text extraction via zipfile + XML strip, and
# PDF production via transforms.pdfmini (valid multi-page PDF 1.4).

TRY_SCHEMA = (
    "doc_key string, fmt string, ok boolean, content binary, error string"
)


def _try_import_renderers():
    try:
        import mammoth  # type: ignore  # noqa: F401
        import weasyprint  # type: ignore  # noqa: F401

        return True
    except ImportError:
        return False


def docx_to_text(blob: bytes) -> str:
    """Pure-stdlib DOCX text extraction: a .docx is a zip whose
    word/document.xml holds the body; ``</w:p>`` ends a paragraph
    (reference scraper_glostrup.py:42-100 goes DOCX→HTML→PDF; the text
    content is what survives into the PDF)."""
    import html as _html
    import io
    import re as _re
    import zipfile

    with zipfile.ZipFile(io.BytesIO(blob)) as z:
        xml = z.read("word/document.xml").decode("utf-8", "replace")
    xml = _re.sub(r"</w:p>", "\n", xml)
    xml = _re.sub(r"<[^>]+>", "", xml)
    return _html.unescape(xml).strip()


def convert_docx_to_pdf(blobs: DataFrame) -> DataFrame:
    """T1 — DOCX→PDF (scraper_glostrup.py:42-100) as an Arrow-batched
    mapInPandas over (doc_key, fmt, content). Rows with fmt != 'docx' pass
    through untouched (the reference's content-type dispatch,
    scraper_glostrup.py:287-293). Render path: mammoth+weasyprint when
    installed, else stdlib docx_to_text + pdfmini.text_to_pdf — a real
    PDF either way. Any per-row failure lands as ok=False (C5
    Try-struct), never an exception."""
    have_libs = _try_import_renderers()

    def _render(blob: bytes) -> bytes:
        if have_libs:  # pragma: no cover - container has no renderers
            import io

            import mammoth  # type: ignore
            import weasyprint  # type: ignore

            html = mammoth.convert_to_html(io.BytesIO(blob)).value
            return weasyprint.HTML(string=html).write_pdf()
        from .pdfmini import text_to_pdf

        return text_to_pdf(docx_to_text(blob))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = pdf.copy()
            ok, err, content = [], [], []
            for fmt, blob in zip(out["fmt"], out["content"]):
                if fmt != "docx":
                    ok.append(True)
                    err.append(None)
                    content.append(blob)
                else:
                    try:
                        content.append(_render(bytes(blob)))
                        ok.append(True)
                        err.append(None)
                    except Exception as exc:
                        ok.append(False)
                        err.append(str(exc)[:500])
                        content.append(None)
            out["ok"] = ok
            out["error"] = err
            out["content"] = content
            yield out[["doc_key", "fmt", "ok", "content", "error"]]

    return blobs.select("doc_key", "fmt", "content").mapInPandas(batches, TRY_SCHEMA)


# T4 — the reference's pre-print DOM cleanup (scraper_svendborg.py:229-268)
# removes cookie banners and hides site chrome by class before
# Page.printToPDF; same semantics as data: strip those elements, then
# render the visible text.
_CHROME_CLASSES = (
    "c-site-header",
    "c-site-footer",
    "c-page-module-bar",
    "c-floating-sidebar",
    "c-skip-to-content",
    "c-base-button",
    "c-horizontal-collapser",
)
_CHROME_IDS = ("CookieConsent", "coiOverlay", "cookie-information-template-wrapper")


def _strip_chrome_py(html: str) -> str:
    import re as _re

    cls = "|".join(_CHROME_CLASSES)
    ids = "|".join(_CHROME_IDS)
    html = _re.sub(
        rf'(?is)<(\w+)[^>]*class="[^"]*(?:{cls})[^"]*"[^>]*>.*?</\1>', " ", html
    )
    html = _re.sub(rf'(?is)<(\w+)[^>]*id="(?:{ids})"[^>]*>.*?</\1>', " ", html)
    return html


def _html_to_text_py(html: str) -> str:
    """Python twin of the Catalyst html_to_text expression (same steps:
    drop script/style, tags→space, entity decode, collapse, trim)."""
    import html as _htmlmod
    import re as _re

    t = _re.sub(_BLOCK_TAGS, " ", html)
    t = _re.sub(r"(?i)<br\s*/?>", "\n", t)
    t = _re.sub(r"<[^>]+>", " ", t)
    t = _htmlmod.unescape(t)
    t = _re.sub(r"[ \t]+", " ", t)
    return "\n".join(ln.strip() for ln in t.split("\n")).strip()


def print_html_to_pdf(pages: DataFrame, key_col: str = "doc_key", html_col: str = "html") -> DataFrame:
    """T4 — page print-to-PDF (scraper_svendborg.py:229-268,
    scraper_middelfart.py:193-240): DOM cleanup (cookie banner + chrome
    classes removed) then render to a real paginated PDF via pdfmini.
    One narrow Arrow-batched pass; blobs are born in the output
    partition and never cross a shuffle. Try-struct per row (C5)."""
    from .pdfmini import text_to_pdf

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            keys, ok, err, content = [], [], [], []
            for k, html in zip(pdf[key_col], pdf[html_col]):
                keys.append(str(k))
                try:
                    text = _html_to_text_py(_strip_chrome_py(html or ""))
                    content.append(text_to_pdf(text))
                    ok.append(True)
                    err.append(None)
                except Exception as exc:
                    content.append(None)
                    ok.append(False)
                    err.append(str(exc)[:500])
            yield pd.DataFrame(
                {
                    "doc_key": keys,
                    "fmt": ["pdf"] * len(keys),
                    "ok": ok,
                    "content": content,
                    "error": err,
                }
            )

    return pages.select(
        F.col(key_col).cast("string").alias(key_col), F.col(html_col)
    ).mapInPandas(batches, TRY_SCHEMA)


def merge_pdf_parts(parts: DataFrame, key: str = "doc_key") -> DataFrame:
    """T5 — per-meeting multi-part PDF merge + cover page
    (scraper_ringkoebing_skjern.py:33-67,188-243) as
    groupBy(key).applyInPandas: parts sorted by part_no, pages
    concatenated into ONE valid PDF behind a rendered cover page
    (title/date/participants — pdfmini is the stdlib stand-in for
    reportlab+pypdf; swap per-row render calls on a cluster image that
    ships them)."""
    from .pdfmini import cover_page_text, merge_pdfs

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("part_no")
        k = pdf[key].iloc[0]
        blobs = [bytes(b) for b in pdf["content"] if b is not None]
        title = (
            str(pdf["title"].iloc[0]) if "title" in pdf.columns else f"Referat: {k}"
        )
        date_text = str(pdf["date_text"].iloc[0]) if "date_text" in pdf.columns else ""
        participants = (
            [p for p in pdf["participant"].dropna().unique().tolist()]
            if "participant" in pdf.columns
            else []
        )
        merged = merge_pdfs(
            blobs, cover_text=cover_page_text(title, date_text, participants)
        )
        return pd.DataFrame(
            {key: [k], "n_parts": [len(blobs)], "content": [merged]}
        )

    return parts.groupBy(key).applyInPandas(
        merge, f"{key} string, n_parts long, content binary"
    )


def dead_letter_split(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Route ok=False rows to the quarantine side (S18 debug sink)."""
    return df.where(F.col("ok")), df.where(~F.col("ok"))
