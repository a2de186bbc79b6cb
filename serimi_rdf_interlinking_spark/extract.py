"""Triple/mention extraction from Common-Crawl-style web pages.

north_star: vectorized Arrow UDFs extract candidate (subj, pred, obj)
triples and entity mentions from page text. No reference analogue (the
reference consumes SPARQL endpoints); the per-row invariant is
byte-identical extracted text per url.

The extractor is deterministic and pattern-based: sentence-level
relation templates over the page text. Real deployments swap richer
extractors into the same mapInPandas seam (schema, batching and
partitioning stay identical).
"""

from __future__ import annotations

import codecs
import html as _htmlmod
import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .sources.triples import EXTRACTED_TRIPLE_SCHEMA

# ---- HTML -> text (Common-Crawl-grade, deterministic, stdlib-only) ----
#
# Order matters and is part of the per-url byte-identity contract:
#   charset decode -> comments out -> script/style/noscript out ->
#   tags out -> entity unescape -> whitespace collapse.
# Entities are unescaped AFTER tag stripping so escaped markup
# ("&lt;b&gt;") survives as literal text instead of being re-parsed
# and stripped as a tag.

_COMMENT = re.compile(r"<!--.*?(?:-->|$)", re.S)
_RAWTEXT = re.compile(
    r"<(script|style|noscript)\b[^>]*>.*?(?:</\1\s*>|$)", re.S | re.I
)
_TAG = re.compile(r"<[^>]*>")
_WS = re.compile(r"\s+")  # str-mode: includes U+00A0 (&nbsp;) etc.
_META_CHARSET = re.compile(
    rb"""<meta[^>]+charset\s*=\s*["']?\s*([A-Za-z0-9._-]+)""", re.I
)
# generic utf-16/utf-32 codecs consume the BOM (a -le/-be codec would
# leave a stray U+FEFF at the start of the text); check 32 before 16
# because BOM_UTF32_LE starts with BOM_UTF16_LE's bytes.
_BOMS = (
    (codecs.BOM_UTF8, "utf-8-sig"),
    (codecs.BOM_UTF32_LE, "utf-32"),
    (codecs.BOM_UTF32_BE, "utf-32"),
    (codecs.BOM_UTF16_LE, "utf-16"),
    (codecs.BOM_UTF16_BE, "utf-16"),
)


def detect_charset(head: bytes) -> str:
    """BOM first (WHATWG encoding-sniff precedence), then a
    `<meta charset=...>` / http-equiv declaration in the prologue,
    else utf-8. Unknown labels fall back to utf-8 so a hostile page
    cannot crash the extractor."""
    for bom, enc in _BOMS:
        if head.startswith(bom):
            return enc
    mt = _META_CHARSET.search(head[:4096])
    if mt:
        label = mt.group(1).decode("ascii", errors="replace").strip().lower()
        try:
            codecs.lookup(label)
            return label
        except LookupError:
            return "utf-8"
    return "utf-8"

# relation templates: (pattern with named groups s/o, predicate)
_PATTERNS: list[tuple[re.Pattern, str]] = [
    (re.compile(r"^(?P<s>[\w .'-]+?) is an? [\w-]+ in (?P<o>[\w .'-]+)$"), "in_country"),
    (re.compile(r"^It lies in the (?P<o>[\w .'-]+) region$"), "in_region"),
    (re.compile(r"^Its population is (?P<o>[\d,]+)$"), "population"),
    (re.compile(r"^(?P<s>[\w .'-]+?) was founded in (?P<o>\d{3,4})$"), "founded"),
    (re.compile(r"^(?P<s>[\w .'-]+?) is located in (?P<o>[\w .'-]+)$"), "in_country"),
]
_SENT_SPLIT = re.compile(r"[.!?]\s*")


def extract_text_from_html(html: bytes) -> str:
    """Deterministic web-page text extraction (the north-star per-row
    invariant is byte-identical extracted text per url — every step
    here is pure, ordered, and library-free):

    * charset: BOM > meta-declared > utf-8, errors="replace"
    * drops <!-- comments --> (incl. IE conditional comments)
    * drops <script>/<style>/<noscript> elements with their content
      (unclosed raw-text elements consume to EOF, as browsers do)
    * strips remaining tags to a space separator
    * unescapes entities last (&lt;b&gt; stays literal text "<b>")
    * collapses Unicode whitespace (incl. &nbsp; = U+00A0) to single
      spaces and trims

    The fixture generator wraps `text` in <html><body>…</body></html>,
    so `extract_text_from_html(html) == text` is testable byte-for-byte.
    """
    if html is None:
        return ""
    text = html.decode(detect_charset(html[:4096]), errors="replace")
    text = _COMMENT.sub(" ", text)
    text = _RAWTEXT.sub(" ", text)
    text = _TAG.sub(" ", text)
    text = _htmlmod.unescape(text)
    return _WS.sub(" ", text).strip()


def extract_triples_from_text(url: str, text: str) -> list[tuple]:
    """Rows (s, p, o, o_is_uri, src_url); the subject carries across
    sentences (pronoun templates bind to the last explicit subject)."""
    out: list[tuple] = []
    subject: str | None = None
    for sent in _SENT_SPLIT.split(text or ""):
        sent = sent.strip()
        if not sent:
            continue
        for rxp, pred in _PATTERNS:
            mt = rxp.match(sent)
            if not mt:
                continue
            gd = mt.groupdict()
            if "s" in gd and gd.get("s"):
                subject = gd["s"].strip()
            if subject is None:
                continue
            obj = gd["o"].strip()
            out.append((subject, pred, obj, False, url))
            break
    return out


def extract_triples(pages: DataFrame, from_html: bool = False) -> DataFrame:
    """mapInPandas extraction over (url, text|html) — Arrow-batched,
    partition-parallel, no shuffle. Output: EXTRACTED_TRIPLE_SCHEMA."""

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            if from_html:
                texts = [extract_text_from_html(h) for h in pdf["html"]]
            else:
                texts = list(pdf["text"])
            for url, text in zip(pdf["url"], texts):
                rows.extend(extract_triples_from_text(url, text))
            yield pd.DataFrame(
                rows, columns=["s", "p", "o", "o_is_uri", "src_url"]
            ) if rows else pd.DataFrame(
                {
                    "s": pd.Series(dtype="object"),
                    "p": pd.Series(dtype="object"),
                    "o": pd.Series(dtype="object"),
                    "o_is_uri": pd.Series(dtype="bool"),
                    "src_url": pd.Series(dtype="object"),
                }
            )

    cols = ["url", "html"] if from_html else ["url", "text"]
    return pages.select(*cols).mapInPandas(_run, EXTRACTED_TRIPLE_SCHEMA)


def mention_uri(col: str) -> Column:
    """mention://<surface form of column `col`, whitespace runs as '_'>:
    the link stage's source resources and the materialized subjects
    both key on it, so the canonical mapping joins back to the latter."""
    return F.concat(F.lit("mention://"), F.regexp_replace(col, r"\s+", "_"))


def mentions_as_source_triples(extracted: DataFrame) -> DataFrame:
    """Lift extracted page triples into the matcher's source-triple
    shape: each distinct subject becomes a source resource typed
    mention:Entity, its surface form the rdfs:label, and its extracted
    facts the description (SERIMI consumes mention labels as EL input,
    SURVEY.md §7 step 6)."""
    from .sources.triples import RDF_TYPE, RDFS_LABEL

    ent = mention_uri("s")
    facts = extracted.select(
        ent.alias("s"),
        F.col("p"),
        F.col("o"),
        F.col("o_is_uri"),
        F.lit(False).alias("is_bnode"),
    )
    labels = (
        extracted.select("s").distinct().select(
            ent.alias("s"),
            F.lit(RDFS_LABEL).alias("p"),
            F.col("s").alias("o"),
            F.lit(False).alias("o_is_uri"),
            F.lit(False).alias("is_bnode"),
        )
    )
    types = (
        extracted.select("s").distinct().select(
            ent.alias("s"),
            F.lit(RDF_TYPE).alias("p"),
            F.lit("mention://class/Entity").alias("o"),
            F.lit(True).alias("o_is_uri"),
            F.lit(False).alias("is_bnode"),
        )
    )
    return facts.unionByName(labels).unionByName(types).distinct()
