"""Seeded generator of pathological HTML shapes for the ``adversarial``
workload.

Each shape is a kind of page a browser renders without trouble but that
stresses one part of the extraction core:

- ``nav_wall``: thousands of ``<div><a>`` siblings (sitemaps, tag clouds);
  wide sibling lists make DOM mutation pay a position refresh.
- ``br_run_s`` / ``br_run_l``: ``text<br><br>`` runs (plain-text mail and
  chat HTML) at two sizes four times apart, so super-linear cost in
  ``replace_brs`` shows as a row-time ratio well above four.
- ``deep_div``: ``div`` nesting far past the recursion boundary (~450
  levels) around a short text, so the row fails the same way in every
  process whatever its stack depth on entry.
- ``unclosed_inline``: a long run of unclosed ``<b>`` (each nests in the
  last), likewise far past the boundary (~950).
- ``big_text``: one text node of a few hundred KB.
- ``whale``: one extra conversation whose every turn is a giant article.

Shape sizes and counts are fixed, so every seed costs about the same; the
seed picks which turns are replaced and the words inside each shape.
"""

from __future__ import annotations

import random

from cl_readability_spark.pipeline.corpus import make_article_html

_WORDS = (
    "route index archive topic label entry section page category link "
    "message reply thread note update status record item detail summary"
).split()

# shape -> (rows replaced in the base corpus, size parameter)
SHAPE_PLAN = {
    "nav_wall": (2, 2000),
    "br_run_s": (2, 1000),
    "br_run_l": (2, 4000),
    "deep_div": (2, 1000),
    "unclosed_inline": (3, 2000),
    "big_text": (1, 300 * 1024),
}
WHALE_TURNS = 12
WHALE_PARAGRAPHS = 600


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n))


def make_shape(shape: str, size: int, rng: random.Random) -> str:
    if shape == "nav_wall":
        body = "".join(
            f'<div><a href="/{rng.choice(_WORDS)}/{i}">{_words(rng, 2)}</a></div>'
            for i in range(size))
    elif shape in ("br_run_s", "br_run_l"):
        body = "<div>" + "".join(
            f"{_words(rng, 4)} {i}<br><br>" for i in range(size)) + "</div>"
    elif shape == "deep_div":
        # text under the 500-char threshold sends extraction down its retry
        # path, which walks the whole depth
        body = "<div>" * size + _words(rng, 50) + "</div>" * size
    elif shape == "unclosed_inline":
        body = "<p>" + "".join(f"<b>{_words(rng, 1)} " for _ in range(size))
    elif shape == "big_text":
        text = _words(rng, size // 6)
        body = "<p>" + text[:size] + "</p>"
    else:
        raise ValueError(f"unknown shape {shape!r}")
    return f"<html><head><title>{_words(rng, 3)}</title></head><body>{body}</body></html>"


def inject(rows: list[tuple], seed: int) -> tuple[list[tuple], list[str]]:
    """Replace a seeded set of turns of ``rows`` (the transcripts schema
    tuples of ``pipeline.corpus.build_transcript_rows``) by pathological
    shapes and append one whale conversation.  Returns the new rows and
    each row's shape (``"base"`` for untouched turns)."""
    rng = random.Random(f"adversarial-{seed}")
    rows = list(rows)
    shapes = ["base"] * len(rows)
    plan = [s for s, (n, _) in SHAPE_PLAN.items() for _ in range(n)]
    for idx, shape in zip(rng.sample(range(len(rows)), len(plan)), plan):
        conv_id, turn_idx, role, _text, tool, ts = rows[idx]
        rows[idx] = (conv_id, turn_idx, role,
                     make_shape(shape, SHAPE_PLAN[shape][1], rng), tool, ts)
        shapes[idx] = shape
    last_conv = max(r[0] for r in rows)
    whale_id = f"conv-{int(last_conv.split('-')[1]) + 1:06d}"
    ts0 = max(r[5] for r in rows) + 86_400
    for t in range(WHALE_TURNS):
        html = make_article_html(rng.randrange(1 << 30),
                                 n_paragraphs=WHALE_PARAGRAPHS,
                                 sentences_per_paragraph=4)
        rows.append((whale_id, t, "assistant", html, None, ts0 + 60 * t))
        shapes.append("whale")
    return rows, shapes
