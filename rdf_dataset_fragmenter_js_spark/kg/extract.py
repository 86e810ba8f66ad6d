"""Extraction stages: HTML → text (byte-exact) and OpenIE-style triple
extraction, whose subject/object surfaces are the entity mentions.

All stages are Arrow-batched ``mapInPandas`` / pandas UDFs operating on
whole record batches with vectorized pandas string ops — the designated
"slow path" of the engine (``input_hint``: vectorized pandas/Arrow UDFs, no
per-row Python crossing). Each batch stays columnar end-to-end.

The module also hosts the frozen *reference extractor*
(:func:`reference_extract_triples`) — a plain single-threaded Python
implementation of the same extraction rules. The Spark pipeline is scored
against it (triple P/R ≥ 0.95, byte-identical text per url, BASELINE.md).
"""

from __future__ import annotations

import html as html_mod
import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Frozen extraction rules (the "trafilatura-style rules frozen in-repo",
# SURVEY.md §7 Phase 4): main content is the first <article>…</article>
# block with tags stripped and HTML entities unescaped.
_ARTICLE_RE = re.compile(rb"<article>(.*?)</article>", re.DOTALL)
_TAG_RE = re.compile(r"<[^>]+>")

#: closed predicate lexicon for SVO extraction (slug, phrase)
PREDICATE_LEXICON = [
    ("works_for", "works for"),
    ("founded", "founded"),
    ("lives_in", "lives in"),
    ("acquired", "acquired"),
    ("married", "married"),
]

_SVO_RE = re.compile(
    r"(?P<s>(?:[A-Z][a-z]+|[A-Z]\.)(?:\s+(?:[A-Z][a-z]+|[A-Z]\.))*)\s+"
    r"(?P<p>" + "|".join(re.escape(p) for _, p in PREDICATE_LEXICON) + r")\s+"
    r"(?P<o>(?:[A-Z][a-z]+|[A-Z]\.)(?:\s+(?:[A-Z][a-z]+|[A-Z]\.))*)"
)

_PHRASE_TO_SLUG = {p: slug for slug, p in PREDICATE_LEXICON}


def extract_text_bytes(html_bytes: bytes) -> str:
    """Frozen text-extraction rule applied to one page (shared by the Spark
    UDF and the reference extractor — the byte-identical contract)."""
    m = _ARTICLE_RE.search(html_bytes)
    body = m.group(1) if m else b""
    stripped = _TAG_RE.sub("", body.decode("utf-8", errors="replace"))
    return html_mod.unescape(stripped)


def extract_text(pages: DataFrame) -> DataFrame:
    """html binary → extracted_text, Arrow-batched."""
    schema = "url string, warc_ts timestamp, extracted_text string, lang string"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = pd.DataFrame(
                {
                    "url": pdf["url"],
                    "warc_ts": pdf["warc_ts"],
                    "extracted_text": _extract_text_series(pdf["html"]),
                    "lang": pdf["lang"],
                }
            )
            yield out

    return pages.mapInPandas(batches, schema=schema)


def extract_triples(texts: DataFrame, text_col: str = "extracted_text") -> DataFrame:
    """OpenIE-style SVO extraction against the closed predicate lexicon.
    Returns (url, subj_surface, pred, obj_surface) — surfaces are linked /
    canonicalized downstream."""
    schema = "url string, subj_surface string, pred string, obj_surface string"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield _svo_frame(pdf["url"], pdf[text_col].fillna(""))

    return texts.mapInPandas(batches, schema=schema)


#: str-dialect clones of the frozen byte-level rules — ASCII patterns, so
#: decode-then-match ≡ match-then-decode (UTF-8 continuation bytes are
#: ≥ 0x80 and can never alias the ASCII tag delimiters).
_ARTICLE_RE_STR = re.compile(r"<article>(.*?)</article>", re.DOTALL)
_HAS_ENTITY_RE = re.compile(r"&[#A-Za-z]")


def _extract_text_series(html: pd.Series) -> pd.Series:
    """Vectorized text extraction over a whole Arrow batch — C-level regex
    via pandas ``.str`` ops, byte-identical to :func:`extract_text_bytes`
    (asserted by tests/test_kg_pipeline.py). The only per-row Python is
    ``html.unescape``, applied to the (rare) rows that actually contain an
    ``&`` entity lead-in."""
    text = html.str.decode("utf-8", errors="replace")
    body = text.str.extract(_ARTICLE_RE_STR, expand=False).fillna("")
    stripped = body.str.replace(_TAG_RE, "", regex=True)
    has_entity = stripped.str.contains(_HAS_ENTITY_RE, regex=True)
    if has_entity.any():
        stripped = stripped.where(
            ~has_entity, stripped[has_entity].map(html_mod.unescape)
        )
    return stripped


def _svo_frame(url: pd.Series, text: pd.Series) -> pd.DataFrame:
    """Vectorized SVO extraction: one ``str.extractall`` over the batch
    (all matches, C regex loop), then an index-join back to urls."""
    matches = text.str.extractall(_SVO_RE)
    if len(matches) == 0:
        return pd.DataFrame(
            {"url": pd.Series(dtype=object), "subj_surface": pd.Series(dtype=object),
             "pred": pd.Series(dtype=object), "obj_surface": pd.Series(dtype=object)}
        )
    row_idx = matches.index.get_level_values(0)
    return pd.DataFrame(
        {
            "url": url.loc[row_idx].to_numpy(),
            "subj_surface": matches["s"].to_numpy(),
            "pred": matches["p"].map(_PHRASE_TO_SLUG).to_numpy(),
            "obj_surface": matches["o"].to_numpy(),
        }
    )


def extract_page_triples(pages: DataFrame) -> DataFrame:
    """Fused html→text→SVO extraction in ONE Arrow stage.

    Chaining two ``mapInPandas`` stages pays a second Arrow encode/decode and
    a second Python worker per task; the pipeline's hot path fuses them
    (the unfused stages remain for callers that need the intermediate
    text). Semantics identical to ``extract_triples(extract_text(pages))``;
    fully vectorized (series-level ``.str`` regex, no per-row Python loop —
    the ``input_hint`` contract).
    """
    schema = "url string, subj_surface string, pred string, obj_surface string"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            text = _extract_text_series(pdf["html"])
            yield _svo_frame(pdf["url"], text)

    return pages.mapInPandas(batches, schema=schema)


# ---------------------------------------------------------------------------
# Reference extractor (single-threaded, frozen) — scoring target
# ---------------------------------------------------------------------------


def reference_extract_triples(pages: list[tuple[str, bytes]]) -> list[tuple[str, str, str, str]]:
    """Plain-Python reference implementation over (url, html) pairs: the
    P/R ≥ 0.95 target for the Spark pipeline (BASELINE.md). Identical frozen
    rules, no Spark."""
    out = []
    for url, html_bytes in pages:
        text = extract_text_bytes(html_bytes)
        for m in _SVO_RE.finditer(text):
            out.append((url, m.group("s"), _PHRASE_TO_SLUG[m.group("p")], m.group("o")))
    return out
