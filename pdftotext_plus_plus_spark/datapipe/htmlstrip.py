"""HTML boilerplate stripping (north-rule surface: "HTML boilerplate strip,
DOM heuristics").

The extraction engine proper consumes layout payloads (the reference's
model); this module covers the raw-HTML side of a web-corpus pipeline: drop
script/style/head/nav/header/footer/aside subtrees, strip tags, decode the
common entities, squeeze whitespace — all JVM-side ``regexp_replace`` (no
UDFs), so it runs at scan speed at 10^12 rows.

A deterministic synthetic HTML corpus (``build_html_corpus``) feeds the
driver query; the oracle is a VALUES table of goldens computed by an
independent Python mirror (``strip_boilerplate_py``), so the Spark
expression chain is checked against a second implementation, not against
itself.

The two per-page extractors, main-content blocks and the heading
outline, run in Python: each gives only a rows function (one page -> its
kept blocks or headings) to the package's one bounded frame builder,
:func:`rowframes.map_rows`.
"""

from __future__ import annotations

import random
import re
from typing import List, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..rowframes import map_rows

N_HTML_DOCS = 40

_DROP_TAGS = ("script", "style", "head", "nav", "header", "footer", "aside")
_ENTITIES = (("&nbsp;", " "), ("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
             ("&quot;", '"'), ("&#39;", "'"))

_WORDS = ["data", "spark", "scale", "corpus", "tokens", "pages", "engine",
          "batch", "arrow", "columns", "filter", "join", "shuffle", "query"]


def build_html_corpus(n_docs: int = N_HTML_DOCS,
                      seed: int = 7) -> List[Tuple[str, str]]:
    """Deterministic (url, html) pages with boilerplate around real content."""
    rows = []
    for i in range(n_docs):
        rng = random.Random(seed * 7919 + i)
        paras = []
        for _ in range(rng.randint(1, 4)):
            words = [rng.choice(_WORDS) for _ in range(rng.randint(6, 14))]
            paras.append("<p>" + " ".join(words) + "</p>")
        title = " ".join(rng.choice(_WORDS) for _ in range(3))
        html = (
            "<html><head><title>%s</title>"
            "<script>var x = 1 &amp;&amp; 2;</script>"
            "<style>.a{color:red}</style></head>"
            "<body><nav><a href=\"/\">home</a> | <a href=\"/x\">x</a></nav>"
            "<header><h1>%s</h1></header>"
            "<div id=\"main\"><h2>%s &amp; more</h2>%s</div>"
            "<aside>ads &nbsp;here</aside>"
            "<footer>&copy; 2024 example</footer></body></html>"
            % (title, title, title, "".join(paras)))
        rows.append(("https://html.test/doc-%04d" % i, html))
    return rows


def strip_boilerplate_py(html: str) -> str:
    """Independent Python mirror of the strip chain (golden generator)."""
    out = html
    for tag in _DROP_TAGS:
        out = re.sub(r"(?s)<%s[^>]*>.*?</%s>" % (tag, tag), " ", out)
    out = re.sub(r"<[^>]*>", " ", out)
    for entity, repl in _ENTITIES:
        out = out.replace(entity, repl)
    out = re.sub(r"\s+", " ", out).strip()
    return out


def boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark expression chain over the synthetic HTML corpus."""
    df = spark.createDataFrame(build_html_corpus(), "url string, html string")
    col = F.col("html")
    for tag in _DROP_TAGS:
        col = F.regexp_replace(col, "(?s)<%s[^>]*>.*?</%s>" % (tag, tag), " ")
    col = F.regexp_replace(col, "<[^>]*>", " ")
    for entity, repl in _ENTITIES:
        # literal replacement via regexp_replace with escaped pattern
        col = F.regexp_replace(col, re.escape(entity), repl)
    col = F.trim(F.regexp_replace(col, r"\s+", " "))
    return df.select("url", col.alias("main_text"))


def boilerplate_strip_oracle_sql() -> str:
    values = ",\n".join(
        "('%s', '%s')" % (url, strip_boilerplate_py(html).replace("'", "''"))
        for url, html in build_html_corpus())
    return "SELECT * FROM (VALUES\n%s\n) AS t(url, main_text)" % values


# ---------------------------------------------------------------------------
# main-content extraction (text-density / link-density heuristic)
# ---------------------------------------------------------------------------

MAIN_MIN_TEXT_LEN = 25
MAIN_MAX_LINK_DENSITY = 0.3
_BLOCK_RE = re.compile(r"(?s)<(p|h[1-6]|li)[^>]*>(.*?)</\1>")
_LINK_RE = re.compile(r"(?s)<a[^>]*>(.*?)</a>")


def _clean_fragment(fragment: str) -> str:
    out = re.sub(r"<[^>]*>", " ", fragment)
    for entity, repl in _ENTITIES:
        out = out.replace(entity, repl)
    return re.sub(r"\s+", " ", out).strip()


def main_content_blocks_py(html: str):
    """Arc90-readability-style block scoring: block-level fragments kept
    when cleaned text length >= MAIN_MIN_TEXT_LEN and the fraction of text
    inside <a> anchors <= MAIN_MAX_LINK_DENSITY.  Boilerplate (nav lists,
    short ads, footers) fails one of the two tests by construction."""
    kept = []
    for m in _BLOCK_RE.finditer(html):
        inner = m.group(2)
        text = _clean_fragment(inner)
        if len(text) < MAIN_MIN_TEXT_LEN:
            continue
        link_text = sum(len(_clean_fragment(a))
                        for a in _LINK_RE.findall(inner))
        if link_text / len(text) > MAIN_MAX_LINK_DENSITY:
            continue
        kept.append(text)
    return kept


def build_main_content_corpus(n_docs: int = N_HTML_DOCS,
                              seed: int = 11):
    """(url, html, golden_blocks): realistic page skeleton whose MAIN
    paragraphs are known at construction time — nav/aside/ads/footer blocks
    are built to fail the density tests, main paragraphs to pass them
    (some with an inline low-density anchor)."""
    rows = []
    for i in range(n_docs):
        rng = random.Random(seed * 104729 + i)
        golden = []
        parts = ["<html><body>",
                 "<ul>" + "".join(
                     "<li><a href=\"/%s\">%s %s</a></li>"
                     % (w, w, rng.choice(_WORDS))
                     for w in rng.sample(_WORDS, 4)) + "</ul>"]
        for _ in range(rng.randint(2, 5)):
            words = [rng.choice(_WORDS) for _ in range(rng.randint(7, 14))]
            if rng.random() < 0.4:
                # inline anchor: 1 word of ~10 -> density ~0.1, kept
                k = rng.randrange(len(words))
                text = " ".join(words)
                words_html = list(words)
                words_html[k] = "<a href=\"/x\">%s</a>" % words[k]
                parts.append("<p>" + " ".join(words_html) + "</p>")
                golden.append(text)
            else:
                text = " ".join(words)
                parts.append("<p>" + text + "</p>")
                golden.append(text)
            if rng.random() < 0.5:
                parts.append("<p class=\"ad\">ad %s</p>"
                             % rng.choice(_WORDS))  # short -> dropped
        parts.append("<p><a href=\"/all\">%s</a> | <a href=\"/b\">%s %s %s</a></p>"
                     % tuple(rng.choice(_WORDS) for _ in range(4)))  # linkbar
        parts.append("</body></html>")
        rows.append(("https://html.test/main-%04d" % i,
                     "".join(parts), golden))
    return rows


def main_content_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched main-content extraction: one input page -> N kept
    blocks, computed inside the kernel, never a driver loop.  At 10^12
    rows this is one narrow pass over the html column."""
    def rows(pdf):
        for url, html in zip(pdf["url"], pdf["html"]):
            for j, text in enumerate(main_content_blocks_py(html)):
                yield (url, j, text), len(text)

    corpus = [(u, h) for u, h, _ in build_main_content_corpus()]
    df = spark.createDataFrame(corpus, "url string, html string")
    return map_rows(df, rows,
                    "url string, block_idx bigint, block_text string")


def main_content_blocks_oracle_sql() -> str:
    """VALUES oracle from the CONSTRUCTION-TIME golden paragraphs (never
    from the extractor)."""
    values = []
    for url, _, golden in build_main_content_corpus():
        for j, text in enumerate(golden):
            values.append("('%s', %d, '%s')"
                          % (url, j, text.replace("'", "''")))
    return ("SELECT * FROM (VALUES\n%s\n) AS t(url, block_idx, block_text)"
            % ",\n".join(values))


# ---------------------------------------------------------------------------
# heading outline (DOM hierarchy via monotonic stack)
# ---------------------------------------------------------------------------

_HEADING_RE = re.compile(r"(?s)<h([1-6])[^>]*>(.*?)</h\1>")


def build_outline_corpus(n_docs: int = N_HTML_DOCS, seed: int = 13):
    """(url, html, golden_headings): pages rendered from an explicit
    random heading TREE (max depth 6, children emitted in DFS preorder at
    exactly depth = level), so every golden ``parent_idx`` comes from the
    tree structure — never from running the extractor's stack algorithm.
    Headings carry random attributes and occasional inline markup to
    exercise fragment cleaning; paragraph junk is interleaved."""
    rows = []
    for i in range(n_docs):
        rng = random.Random(seed * 65537 + i)
        headings = []          # (idx, level, clean_text, parent_idx)
        parts = ["<html><body>"]
        counter = [0]

        def emit(level, parent_idx, rng=rng, parts=parts,
                 headings=headings, counter=counter):
            idx = counter[0]
            counter[0] += 1
            words = [rng.choice(_WORDS) for _ in range(rng.randint(2, 5))]
            text = " ".join(words)
            if rng.random() < 0.3:          # inline markup inside heading
                k = rng.randrange(len(words))
                words_html = list(words)
                words_html[k] = "<em>%s</em>" % words[k]
                inner = " ".join(words_html)
            else:
                inner = text
            attr = (' class="s%d"' % rng.randint(0, 3)
                    if rng.random() < 0.5 else "")
            parts.append("<h%d%s>%s</h%d>" % (level, attr, inner, level))
            headings.append((idx, level, text, parent_idx))
            if rng.random() < 0.6:
                parts.append("<p>%s</p>" % " ".join(
                    rng.choice(_WORDS) for _ in range(6)))
            if level < 6:
                for _ in range(rng.randint(0, 2)):
                    emit(level + 1, idx)

        for _ in range(rng.randint(1, 3)):
            emit(1, -1)
        parts.append("</body></html>")
        rows.append(("https://html.test/outline-%04d" % i,
                     "".join(parts), headings))
    return rows


def outline_py(html: str):
    """Monotonic-stack heading-hierarchy extraction: the parent of a
    heading is the nearest PRECEDING heading of smaller level, -1 at the
    top — the DOM analogue of the reference's text-line hierarchy pass
    (TextLinesDetectionUtils.cpp:49-141; kernel/lines.py
    _compute_line_hierarchy runs the same stack over layout lines)."""
    out = []
    stack = []                 # (level, idx), strictly increasing levels
    for idx, m in enumerate(_HEADING_RE.finditer(html)):
        level = int(m.group(1))
        while stack and stack[-1][0] >= level:
            stack.pop()
        parent = stack[-1][1] if stack else -1
        out.append((idx, level, _clean_fragment(m.group(2)), parent))
        stack.append((level, idx))
    return out


def html_outline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched outline extraction: one page -> N ordered headings
    with hierarchy, computed inside the kernel.  At 10^12 rows this is
    one narrow pass over the html column — no shuffle; the per-page
    stack state never leaves the kernel."""
    def rows(pdf):
        for url, html in zip(pdf["url"], pdf["html"]):
            for idx, level, text, parent in outline_py(html):
                yield (url, idx, level, text, parent), len(text)

    corpus = [(u, h) for u, h, _ in build_outline_corpus()]
    df = spark.createDataFrame(corpus, "url string, html string")
    return map_rows(df, rows,
                    "url string, heading_idx bigint, level bigint, "
                    "heading string, parent_idx bigint")


def html_outline_oracle_sql() -> str:
    """VALUES oracle from the CONSTRUCTION-TIME tree (never from the
    stack algorithm)."""
    values = []
    for url, _, golden in build_outline_corpus():
        for idx, level, text, parent in golden:
            values.append("('%s', %d, %d, '%s', %d)"
                          % (url, idx, level,
                             text.replace("'", "''"), parent))
    return ("SELECT * FROM (VALUES\n%s\n) "
            "AS t(url, heading_idx, level, heading, parent_idx)"
            % ",\n".join(values))
