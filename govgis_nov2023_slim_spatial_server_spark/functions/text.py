"""Text-analysis column functions for the LLM-data-pipeline surface.

The reference's only string ops are ``LOWER`` in the type filter (reference
backend/models.py:164) and the MCP layer's recursive HTML→Markdown pass
(reference backend/mcp.py:12-20). This module generalizes both to column
operators and adds the pipeline ops the driver grades: token counting,
quality scoring, language ID, and document fingerprinting.

Design rule: everything that CAN be a built-in ``pyspark.sql.functions``
expression IS one (JVM codegen, oracle-expressible in ANSI SQL); only
genuinely imperative transforms (HTML→MD, rolling-hash fingerprint) are
row lifts over ``functions/arrow.py``.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType

from .arrow import row_udf

# ---------------------------------------------------------------------------
# Tokenization / counting (native)
# ---------------------------------------------------------------------------


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization; empty string → empty array (not [''])."""
    c = F.col(col) if isinstance(col, str) else col
    trimmed = F.trim(c)
    return F.when(F.length(trimmed) == 0, F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col)).cast("long")


def bpe_ish_token_count(col: Column | str) -> Column:
    """Sub-word-ish token count: split on word/number/punctuation boundaries
    (a BPE-shaped regex, not a real tokenizer — deterministic and native)."""
    c = F.col(col) if isinstance(col, str) else col
    pieces = F.split(c, r"(?<=\W)|(?=\W)")
    return F.size(F.filter(pieces, lambda p: F.trim(p) != "")).cast("long")


# ---------------------------------------------------------------------------
# Quality scoring (native)
# ---------------------------------------------------------------------------


def quality_metrics(col: Column | str) -> dict[str, Column]:
    """Heuristic doc-quality signals (all codegen-native):
    word count, mean word length, alpha ratio, digit ratio, upper ratio."""
    c = F.col(col) if isinstance(col, str) else col
    n_chars = F.length(c).cast("double")
    n_words = token_count(c).cast("double")
    alpha = F.length(F.regexp_replace(c, r"[^A-Za-z]", "")).cast("double")
    digit = F.length(F.regexp_replace(c, r"[^0-9]", "")).cast("double")
    upper = F.length(F.regexp_replace(c, r"[^A-Z]", "")).cast("double")
    safe = F.when(n_chars > 0, n_chars).otherwise(F.lit(1.0))
    return {
        "n_chars": n_chars,
        "n_words": n_words,
        "mean_word_len": F.when(n_words > 0, n_chars / n_words).otherwise(F.lit(0.0)),
        "alpha_ratio": alpha / safe,
        "digit_ratio": digit / safe,
        "upper_ratio": upper / safe,
    }


def quality_score(col: Column | str) -> Column:
    """Scalar [0,1] quality score: rewards alphabetic text with sane word
    lengths, penalizes digit soup. Weights are arbitrary but fixed."""
    m = quality_metrics(col)
    word_len_ok = F.when(
        (m["mean_word_len"] >= 3) & (m["mean_word_len"] <= 12), F.lit(1.0)
    ).otherwise(F.lit(0.0))
    score = 0.5 * m["alpha_ratio"] + 0.3 * word_len_ok + 0.2 * (1.0 - m["digit_ratio"])
    return F.least(F.greatest(score, F.lit(0.0)), F.lit(1.0))


# ---------------------------------------------------------------------------
# Repetition metrics (Gopher-style quality rules; native, zero-shuffle)
# ---------------------------------------------------------------------------


def repetition_metrics(col: Column | str) -> dict[str, Column]:
    """Per-document repetition signals (the Gopher / RefinedWeb rule family):

    - ``top_word_ratio``   — most frequent word count / total words
    - ``distinct_ratio``   — distinct words / total words
    - ``dup_2gram_ratio``  — fraction of word-bigrams that are repeats

    All three are computed as pure array expressions over the row's own
    token list (sort-fold for the max run, ``array_distinct`` for the set
    sizes) — a map-only stage with NO shuffle, so at 100 TB this is a
    filter that rides the scan for free, unlike the explode→groupBy
    formulation which would shuffle every (doc, word) pair.
    """
    c = F.col(col) if isinstance(col, str) else col
    toks = tokens(F.lower(c))
    n_words = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))

    # max word frequency == longest equal-run in the sorted token array:
    # fold (prev, run, best) left-to-right (O(n log n) per row, no shuffle)
    init = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
    )

    def _merge(acc: Column, x: Column) -> Column:
        new_run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long"))
        return F.struct(
            x.alias("prev"),
            new_run.alias("run"),
            F.greatest(acc["best"], new_run).alias("best"),
        )

    top_cnt = F.aggregate(F.array_sort(toks), init, _merge, lambda acc: acc["best"])

    bigrams = F.when(
        n_words >= 2,
        F.transform(
            F.sequence(F.lit(2), n_words),
            lambda i: F.concat_ws(" ", F.element_at(toks, i - 1), F.element_at(toks, i)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    n_bg = F.size(bigrams)
    dup_bg = F.when(
        n_bg > 0,
        (n_bg - F.size(F.array_distinct(bigrams))).cast("double") / n_bg,
    ).otherwise(F.lit(0.0))

    nw_d = n_words.cast("double")
    return {
        "n_words": n_words.cast("long"),
        "top_word_ratio": F.when(n_words > 0, top_cnt.cast("double") / nw_d).otherwise(F.lit(0.0)),
        "distinct_ratio": F.when(n_words > 0, n_distinct.cast("double") / nw_d).otherwise(F.lit(0.0)),
        "dup_2gram_ratio": dup_bg,
    }


# ---------------------------------------------------------------------------
# Language ID (stopword-hit heuristic; native so it is oracle-expressible)
# ---------------------------------------------------------------------------

_LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in"],
    "es": ["el", "la", "de", "que", "los"],
    "fr": ["le", "la", "et", "les", "des"],
    "de": ["der", "die", "und", "das", "nicht"],
}


def _marker_hits(c: Column, words: list[str]) -> Column:
    toks = F.transform(tokens(c), lambda t: F.lower(t))
    hits = F.lit(0)
    for w in words:
        hits = hits + F.size(F.filter(toks, lambda t: t == F.lit(w)))
    return hits


def lang_id(col: Column | str, default: str = "und") -> Column:
    """argmax over per-language stopword hit counts; ties → first language
    in _LANG_MARKERS order; zero hits → `default`."""
    c = F.col(col) if isinstance(col, str) else col
    scores = {lang: _marker_hits(c, ws) for lang, ws in _LANG_MARKERS.items()}
    best_score = F.greatest(*scores.values())
    expr = F.lit(default)
    for lang in reversed(list(_LANG_MARKERS)):  # first lang wins ties
        expr = F.when(
            (scores[lang] == best_score) & (best_score > 0), F.lit(lang)
        ).otherwise(expr)
    return expr


# ---------------------------------------------------------------------------
# HTML → Markdown (row lift). The markdownify package the reference uses
# (backend/mcp.py:1-3, `md(obj)` with default options) is not installed in
# this environment, so this is a small stdlib html.parser re-implementation
# of markdownify's DEFAULT behaviors for the common tags:
#   b/strong → **chomped**; i/em → *chomped*; a → [text](href) with
#   autolink <href> when the text IS the href; h1/h2 underlined (=== / ---),
#   h3+ ATX (###); ul bullets cycle * + - by depth, ol numbers 1. 2. …;
#   <br> → "  \n" (two-space line break); code/pre backticks; img → ![alt](src);
#   blockquote "> " prefix; * and _ escaped in text.
# Deviation (documented): the final result is .strip()ed and 3+ newlines
# collapse to 2 — markdownify keeps outer blank lines; for column values
# the stripped form is the stable one.
# ---------------------------------------------------------------------------

from html.parser import HTMLParser

_VOID_TAGS = {"br", "img", "hr", "meta", "input", "link", "source"}
_ESCAPE_RE = re.compile(r"([*_])")
_WS_RE = re.compile(r"\s+")


class _El:
    __slots__ = ("tag", "attrs", "children")

    def __init__(self, tag: str, attrs=None):
        self.tag = tag
        self.attrs = dict(attrs or {})
        self.children: list = []


class _TreeBuilder(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)  # entities decode like BeautifulSoup
        self.root = _El("_root")
        self.stack = [self.root]

    def handle_starttag(self, tag, attrs):
        el = _El(tag, attrs)
        self.stack[-1].children.append(el)
        if tag not in _VOID_TAGS:
            self.stack.append(el)

    def handle_startendtag(self, tag, attrs):
        self.stack[-1].children.append(_El(tag, attrs))

    def handle_endtag(self, tag):
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                return

    def handle_data(self, data):
        if data:
            self.stack[-1].children.append(data)


def _chomp(s: str) -> tuple[str, str, str]:
    """markdownify's chomp: spaces move OUTSIDE the inline markers."""
    core = s.strip(" ")
    return (" " if s[:1] == " " else "", core, " " if s[-1:] == " " else "")


def _indent(text: str, prefix: str) -> str:
    return "".join(prefix + line if line.strip() else line for line in text.splitlines(True))


def _render_children(el: _El, ctx: dict) -> str:
    return "".join(_render(c, ctx) for c in el.children)


def _render_inline(el: _El, ctx: dict, marker: str) -> str:
    pre, core, post = _chomp(_render_children(el, ctx))
    return f"{pre}{marker}{core}{marker}{post}" if core else ""


def _render_list(el: _El, ctx: dict, ordered: bool) -> str:
    depth = ctx.get("list_depth", 0)
    items = []
    n = 0
    for c in el.children:
        if isinstance(c, _El) and c.tag == "li":
            n += 1
            txt = _render_children(c, {**ctx, "list_depth": depth + 1}).strip()
            bullet = f"{n}." if ordered else "*+-"[depth % 3]
            items.append(f"{bullet} {txt}\n")
    body = "".join(items)
    if depth:  # nested list: newline-prefixed, tab-indented under its <li>
        return "\n" + _indent(body, "\t")
    return "\n\n" + body + "\n"


def _render(node, ctx: dict) -> str:
    if isinstance(node, str):
        if ctx.get("pre"):
            return node
        text = _WS_RE.sub(" ", node)
        return _ESCAPE_RE.sub(r"\\\1", text) if ctx.get("escape", True) else text
    tag = node.tag
    if tag in ("b", "strong"):
        return _render_inline(node, ctx, "**")
    if tag in ("i", "em"):
        return _render_inline(node, ctx, "*")
    if tag == "a":
        href = node.attrs.get("href") or ""
        title = node.attrs.get("title")
        text = _render_children(node, ctx)
        if text.replace("\\", "") == href and not title:
            return f"<{href}>"  # markdownify autolinks=True default
        t = f' "{title}"' if title else ""
        return f"[{text}]({href}{t})" if href else text
    if tag == "br":
        return "  \n"  # newline_style='spaces' default
    if tag == "p":
        return _render_children(node, ctx) + "\n\n"
    if len(tag) == 2 and tag[0] == "h" and tag[1].isdigit():
        level = int(tag[1])
        text = _WS_RE.sub(" ", _render_children(node, ctx)).strip()
        if not text:
            return ""
        if level == 1:
            return f"\n\n{text}\n{'=' * len(text)}\n\n"  # heading_style='underlined'
        if level == 2:
            return f"\n\n{text}\n{'-' * len(text)}\n\n"
        return f"\n\n{'#' * level} {text}\n\n"
    if tag == "ul":
        return _render_list(node, ctx, ordered=False)
    if tag == "ol":
        return _render_list(node, ctx, ordered=True)
    if tag == "blockquote":
        inner = _render_children(node, ctx).strip()
        return "\n" + _indent(inner, "> ") + "\n\n" if inner else ""
    if tag == "code":
        return f"`{_render_children(node, {**ctx, 'escape': False})}`"
    if tag == "pre":
        return f"\n\n```\n{_render_children(node, {**ctx, 'pre': True, 'escape': False})}\n```\n\n"
    if tag == "hr":
        return "\n\n---\n\n"
    if tag == "img":
        alt = node.attrs.get("alt") or ""
        src = node.attrs.get("src") or ""
        title = node.attrs.get("title")
        t = f' "{title}"' if title else ""
        return f"![{alt}]({src}{t})"
    if tag in ("script", "style", "head"):
        return ""
    return _render_children(node, ctx)


def html_to_markdown_str(s: str | None) -> str | None:
    """Pure-Python HTML→Markdown with markdownify-default semantics
    (reference backend/mcp.py:12-20); best-effort, never raises."""
    if s is None:
        return None
    try:
        builder = _TreeBuilder()
        builder.feed(s)
        builder.close()
        out = _render(builder.root, {})
        return re.sub(r"\n{3,}", "\n\n", out).strip()
    except Exception:
        return re.sub(r"<[^>]+>", "", s).strip()


def html_to_markdown_udf():
    return row_udf(StringType(), html_to_markdown_str)


# ---------------------------------------------------------------------------
# Document fingerprint (rolling polynomial hash)
# ---------------------------------------------------------------------------

# Canonical rolling-hash constants, shared with the MinHash poly hash
# (functions/hashes.py imports these): modulus sized so h*257+byte stays
# below 2^63 — the same arithmetic is then expressible in overflow-checked
# SQL engines (the DuckDB list_reduce oracles).
_FP_MOD = (1 << 54) - 33
_FP_BASE = 257


def fingerprint_str(s: str | None) -> int | None:
    """Deterministic rolling hash of the normalized text (lowercased,
    whitespace-collapsed). Stable across runs/partitions — usable as an
    exact-dedup key far cheaper to shuffle than the full text."""
    if s is None:
        return None
    norm = " ".join(s.lower().split())
    h = 0
    for ch in norm.encode("utf-8"):
        h = (h * _FP_BASE + ch) % _FP_MOD
    return h


def fingerprint_udf():
    return row_udf(LongType(), fingerprint_str)
