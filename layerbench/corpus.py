"""Seeded inputs for the benchmark workloads and their single-process
reference outputs.

- ``headline``: ``datagen.gen_doc`` — the generator behind
  ``datagen.synthetic_documents_df``, oversized docs included.
- ``realistic``: HTML-heavy pages as crawlers meet them — doctypes,
  comments, conditional comments, processing instructions, entities,
  non-ASCII text and malformed tags. The headline corpus has none of
  these, so the HTML fast path never falls back to the stdlib parser on
  it; the kernel probe runs this corpus too, where that fallback carries
  the load.
- ``embeddings``: vectors drawn like the test tables' ``embeddings``
  table (vec_id BIGINT, embedding FLOAT[64], label INT).
"""

from __future__ import annotations

import hashlib
import os
import random
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from extract_ocr_spark.datagen import gen_doc
from extract_ocr_spark.kernels.extract import doc_size_bytes, extract_doc
from extract_ocr_spark.pipeline import BIG_DOC_BYTES
from extract_ocr_spark.schemas import DOCUMENTS_SCHEMA

# Output files per corpus: more than one split per core, as a real scan has.
CORPUS_FILES = 8
_MARKUP_RE = re.compile(r"<!doctype|<!--|<\?", re.IGNORECASE)


def spans_digest(spans) -> str:
    """sha256 over (kind, text, media_ref, order) of each output span, in
    the byte layout ``extract_digest_df`` documents for ``out_sha``:
    kind \\x1f text \\x1f media_ref \\x1f order \\x1e per span."""
    h = hashlib.sha256()
    for sp in spans:
        h.update(sp["kind"].encode())
        h.update(b"\x1f")
        if sp["text"]:
            h.update(sp["text"].encode())
        h.update(b"\x1f")
        if sp["media_ref"]:
            h.update(sp["media_ref"].encode())
        h.update(b"\x1f%d\x1e" % sp["order"])
    return h.hexdigest()


# -- realistic HTML -----------------------------------------------------------

_WORDS = (
    "archive survey patent portal index record filing citation abstract "
    "claims figure table method system apparatus signal layer network "
    "device protocol sensor module schema release notice update report"
).split()
_INTL = ["Über", "café", "naïve", "Zürich", "東京都", "Ελληνικά", "Привет",
         "São Paulo", "coöperate", "ﬁle", "🚀", "—", "½"]
_ENTITIES = ["&amp;", "&nbsp;", "&copy;", "&#8212;", "&#x2014;", "&eacute;",
             "&lt;b&gt;", "&quot;", "&hellip;", "&reg;"]
_DOCTYPES = [
    "<!DOCTYPE html>",
    "<!doctype html>",
    '<!DOCTYPE html PUBLIC "-//W3C//DTD XHTML 1.0 Transitional//EN" '
    '"http://www.w3.org/TR/xhtml1/DTD/xhtml1-transitional.dtd">',
    '<!DOCTYPE HTML PUBLIC "-//W3C//DTD HTML 4.01//EN">',
]


def _text(rng: random.Random, n: int) -> str:
    out = []
    for _ in range(n):
        r = rng.random()
        if r < 0.08:
            out.append(rng.choice(_INTL))
        elif r < 0.13:
            out.append(rng.choice(_ENTITIES))
        else:
            out.append(rng.choice(_WORDS))
    return " ".join(out)


def _paragraphs(rng: random.Random, n: int) -> str:
    parts = []
    for _ in range(n):
        r = rng.random()
        body = _text(rng, rng.randint(12, 40))
        if r < 0.15:  # unclosed <p>
            parts.append(f"<p>{body}")
        elif r < 0.25:
            items = "".join(f"<li>{_text(rng, 4)}" for _ in range(rng.randint(2, 5)))
            parts.append(f"<ul>{items}</ul>")
        elif r < 0.32:
            parts.append(f"<P CLASS=lead>{body}</P>")
        elif r < 0.38:
            parts.append(f"<pre><code>if (a &lt; b) {{ x = 1; }}</code></pre><p>{body}</p>")
        elif r < 0.44:
            parts.append(
                f"<table><tr><th>{_text(rng, 2)}<td>{_text(rng, 3)}</tr>"
                f"<tr><td>{_text(rng, 2)}<td>{_text(rng, 2)}</table>")
        elif r < 0.50:
            parts.append(f"<p>{body}<br/><img src=fig{rng.randint(1, 9)}.png "
                         f"alt=\"a > b\"></p>")
        elif r < 0.55:
            parts.append(f"<p>{body}</p></div>")  # stray close tag
        else:
            link = f"<a href='/r/{rng.randint(0, 9999)}'>{_text(rng, 2)}</a>"
            parts.append(f"<p>{body} {link}</p>")
        if rng.random() < 0.2:
            parts.append(f"<!-- block {rng.randint(0, 999)} -->")
    return "".join(parts)


def _realistic_html(rng: random.Random, idx: int, oversized: bool) -> str:
    if rng.random() < 0.02:  # WAF interstitial (dropped by the kernel)
        return ("<!DOCTYPE html><html><head><title>Just a moment...</title>"
                "</head><body><script src='/cdn-cgi/challenge-platform/h/b/"
                "orchestrate/jsch/v1'></script>Checking your browser before "
                "accessing. Request blocked</body></html>")
    head = []
    if rng.random() < 0.1:
        head.append('<?xml version="1.0" encoding="UTF-8"?>')
    if rng.random() < 0.95:
        head.append(rng.choice(_DOCTYPES))
    if rng.random() < 0.5:
        head.append(f"<!-- generated {idx} by cms 3.{rng.randint(0, 9)} -->")
    title = _text(rng, 4)
    meta = ("<meta charset=utf-8><meta name=viewport content='width=device-width'>"
            "<link rel=stylesheet href=/s.css>")
    cond = ("<!--[if lt IE 9]><script src=html5shiv.js></script><![endif]-->"
            if rng.random() < 0.3 else "")
    script = ("<script>var s = '</' + 'div>'; if (a < b && c) { go(); }</script>"
              "<style>p > a { color: #333 }</style>")
    nav = "".join(f"<li><a href=/n/{i}>{rng.choice(_WORDS)}</a>" for i in range(8))
    n_paras = 2500 if oversized else rng.randint(3, 12)
    body = f"<h1>{title}</h1>" + _paragraphs(rng, n_paras)
    if rng.random() < 0.3:
        body += f"<h2>{_text(rng, 3)}</h2>" + _paragraphs(rng, rng.randint(1, 4))
    v = idx % 5
    if v == 0:
        main = f"<main>{body}</main>"
    elif v == 1:
        main = f"<article class=post>{body}</article>"
    elif v == 2:
        main = f"<div id=content role=main>{body}</div>"
    elif v == 3:
        main = f"<DIV class=wrapper><div class=c>{body}</div></DIV>"
    else:
        main = f"<section>{body}</section><aside>{_text(rng, 10)}</aside>"
    tail = "</body></html>" if rng.random() < 0.85 else ""  # truncated page
    return (
        "".join(head)
        + f"<html lang=en><head><title>{title}</title>{meta}{cond}{script}</head>"
        + f"<body><header><nav><ul>{nav}</ul></nav></header>{main}"
        + f"<footer>&copy; 2024 {rng.choice(_INTL)}</footer>{tail}"
    )


def realistic_doc(idx: int, seed: int) -> dict:
    """One HTML-heavy document row: an HTML span, sometimes a text or JSON
    sidecar span; 1 in 200 docs is an oversized page."""
    rng = random.Random(seed * 1_000_003 + idx)
    oversized = idx % 200 == 7
    spans = [{"kind": "html", "text": _realistic_html(rng, idx, oversized),
              "media_ref": None, "offset": 0}]
    r = rng.random()
    if r < 0.15:
        spans.append({"kind": "text", "text": _text(rng, 30),
                      "media_ref": None, "offset": 2})
    elif r < 0.25:
        spans.append({"kind": "json", "media_ref": None, "offset": 3,
                      "text": '{"title": "%s", "n": %d}' % (
                          _text(rng, 3).replace('"', ""), rng.randint(0, 99))})
    return {"doc_id": f"page-{idx:010d}", "spans": spans}


_GENERATORS = {"headline": gen_doc, "realistic": realistic_doc}


def generate(kind: str, seed: int, n: int) -> tuple[list[dict], list[str]]:
    """``n`` docs of a corpus kind and their single-process reference
    digests."""
    gen = _GENERATORS[kind]
    docs = [gen(i, seed) for i in range(n)]
    return docs, [spans_digest(extract_doc(d["doc_id"], d["spans"])) for d in docs]


def pin_digest(refs: list[str]) -> str:
    return hashlib.sha256("".join(refs).encode()).hexdigest()


def corpus_shares(docs: list[dict]) -> dict[str, float]:
    """Input properties the kernel's cost depends on: the share of HTML
    spans carrying a doctype, comment or processing instruction (the
    HTML fast path hands those to the stdlib parser) and the share of
    docs above the pipeline's oversized-doc threshold."""
    html = [s["text"] or "" for d in docs for s in d["spans"] if s["kind"] == "html"]
    return {
        "html_markup_share": sum(1 for h in html if _MARKUP_RE.search(h)) / max(1, len(html)),
        "oversized_share": sum(1 for d in docs
                               if doc_size_bytes(d["spans"]) > BIG_DOC_BYTES) / len(docs),
    }


def write_docs(docs: list[dict], out_dir: str) -> None:
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(DOCUMENTS_SCHEMA)
    os.makedirs(out_dir, exist_ok=True)
    step = -(-len(docs) // CORPUS_FILES)
    for f, lo in enumerate(range(0, len(docs), step)):
        table = pa.Table.from_pylist(docs[lo:lo + step], schema=schema)
        pq.write_table(table, os.path.join(out_dir, f"part-{f:05d}.parquet"))


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of every regular file under ``path``."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            total += os.path.getsize(os.path.join(root, name))
            files += 1
    return total, files


def write_embeddings(n: int, seed: int, out_dir: str, dim: int = 64,
                     labels: int = 10) -> int:
    """Uniform random unit vectors with labels drawn independently of
    them, as in the test tables: their vectors carry no cluster structure
    (mean cosine within a label equals that between labels, 0.00). At
    500 and 2000 rows this draw matches sf0.01 and sf0.1 on what the four
    similarity queries depend on: the share of rows semdedup drops
    (0.07-0.08 vs 0.10 at 500, 0.29 vs 0.26 at 2000), the mean
    nearest-neighbour cosine (0.37 vs 0.37, 0.41 vs 0.41) and k-means
    label purity (0.17 vs 0.16, 0.13 vs 0.13). Returns the parquet size
    in bytes."""
    rng = np.random.default_rng(seed)
    vecs = rng.standard_normal((n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    table = pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(vecs.astype(np.float32).tolist(),
                              type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, labels, n).astype(np.int32)),
    })
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "embeddings.parquet")
    pq.write_table(table, path)
    return os.path.getsize(path)
