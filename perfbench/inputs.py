"""Seeded benchmark inputs, generated in this process and cached per seed.

A corpus is a directory of parquet part files with the interleaved
``(doc_id, spans)`` contract that the extraction operators read, plus a
``manifest.json`` recording ``input_docs``, ``input_mb`` and a SHA-256 of
the rows, so two runs can be shown to have read identical inputs.

Documents come from the library's own generator
(``sources.synthetic.gen_doc``), with three departures that keep the
work per run independent of the seed:

- ordinary pages are drawn with ``giant_frac=0``, and giant pages are
  added separately: exactly one per 1,000 documents, each cut to the
  same byte size (about 1,000 times an average page, so giants are about
  half of all bytes, as with ``giant_frac=0.001``).  Left to chance, a
  seed's giant count and size would move the run time by tens of percent.
- a seeded share of the ordinary pages gets a small ``<style>`` block
  prepended, so the token-list walker that ``<style>`` pages take runs.
- documents are written in a fixed number of part files, so the scan
  yields several partitions, as a real table does.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil

GIANT_EVERY = 1000
# a giant page is cut at this many bytes of span text (an average plain
# page is about 3.1 KB)
GIANT_BYTES = 3 * 1024 * 1024

# sampled plain documents for the probes (core, lineage, pipeline); the
# first CHECK_DOCS of them, CHECK_DOCS styled ones and two giants are
# checked against in-process extraction on every run
PROBE_DOCS = 400
CHECK_DOCS = 16

_STYLE_RULES = (
    "p{color:#333;margin:0 0 1em}",
    "h1,h2,h3{font-weight:bold}",
    ".ad,.promo{display:none}",
    "nav{display:none}",
    "td{padding:2px}",
    "li{list-style:square}",
    "pre{white-space:pre-wrap}",
    "h6{display:none}",
)


def is_styled(doc: dict) -> bool:
    first = doc["spans"][0]["text"] if doc["spans"] else None
    return first is not None and first.startswith("<style>")


def style_block(rng: random.Random) -> str:
    """A small ``<style>`` element of one to three seeded rules."""
    return "<style>" + "".join(rng.sample(_STYLE_RULES, rng.randint(1, 3))) + "</style>"


def with_style(doc: dict, css: str) -> dict:
    """``doc`` with ``css`` prepended as its first text span."""
    spans = [{"kind": "text", "text": css, "media_ref": None, "offset": 0}]
    for s in doc["spans"]:
        spans.append({**s, "offset": s["offset"] + 1})
    return {"doc_id": doc["doc_id"], "spans": spans}


def _span_bytes(span: dict) -> int:
    return len(span["text"] or "") + len(span["media_ref"] or "")


def giants(seed: int, first_id: int, count: int) -> list[dict]:
    """``count`` giant pages of ``GIANT_BYTES`` each, cut from the span
    stream of successive ``gen_doc(..., giant_frac=1.0)`` pages."""
    from html_to_document_spark.sources.synthetic import gen_doc

    out: list[dict] = []
    pending: list[dict] = []
    source = first_id
    for k in range(count):
        spans: list[dict] = []
        size = 0
        while size < GIANT_BYTES:
            if not pending:
                pending = list(gen_doc(source, seed, giant_frac=1.0)["spans"])
                source += 1
            s = pending.pop(0)
            spans.append({**s, "offset": len(spans)})
            size += _span_bytes(s)
        out.append({"doc_id": f"giant-{first_id + k:012d}", "spans": spans})
    return out


def build_docs(seed: int, n_docs: int, styled_share: float,
               with_giants: bool) -> list[dict]:
    """The corpus as a list of documents: a pure function of its arguments."""
    from html_to_document_spark.sources.synthetic import gen_doc

    n_giants = max(1, n_docs // GIANT_EVERY) if with_giants else 0
    n_plain = n_docs - n_giants
    rng = random.Random(seed * 1_000_003 + 17)
    docs = []
    for i in range(n_plain):
        doc = gen_doc(i, seed, giant_frac=0.0)
        if rng.random() < styled_share:
            doc = with_style(doc, style_block(rng))
        docs.append(doc)
    # giants spread evenly through the file order
    step = n_plain // max(1, n_giants)
    for k, giant in enumerate(giants(seed, n_plain, n_giants)):
        docs.insert(k * (step + 1) + step // 2, giant)
    return docs


def _schema():
    import pyarrow as pa

    span = pa.struct([
        ("kind", pa.string()), ("text", pa.string()),
        ("media_ref", pa.string()), ("offset", pa.int32()),
    ])
    return pa.schema([("doc_id", pa.string()), ("spans", pa.list_(span))])


def corpus(cache_dir: str, name: str, seed: int, n_docs: int,
           styled_share: float, with_giants: bool, n_files: int) -> dict:
    """Return the manifest of the cached corpus, generating it first if
    the cache has none for these arguments.  ``manifest["path"]`` is the
    parquet directory."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    key = f"{name}-n{n_docs}-s{styled_share}-g{int(with_giants)}-f{n_files}-seed{seed}"
    root = os.path.join(cache_dir, key)
    manifest_path = os.path.join(root, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return {**json.load(f), "path": os.path.join(root, "data")}

    docs = build_docs(seed, n_docs, styled_share, with_giants)
    tmp = root + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "data"))
    table = pa.Table.from_pylist(docs, schema=_schema())
    # digest of the rows in Arrow IPC form: independent of the file split
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as writer:
        writer.write_table(table)
    digest = hashlib.sha256(sink.getvalue())
    per_file = -(-len(docs) // n_files)
    for k in range(n_files):
        pq.write_table(table.slice(k * per_file, per_file),
                       os.path.join(tmp, "data", f"part-{k:03d}.parquet"))
    giant_ids = [d["doc_id"] for d in docs if d["doc_id"].startswith("giant-")]
    styled_ids = [d["doc_id"] for d in docs if is_styled(d)]
    plain_ids = [d["doc_id"] for d in docs
                 if not is_styled(d) and not d["doc_id"].startswith("giant-")]
    pick = random.Random(seed * 7919 + 3)
    manifest = {
        "name": name,
        "seed": seed,
        "input_docs": len(docs),
        "input_mb": sum(_span_bytes(s) for d in docs for s in d["spans"]) / 1e6,
        "giants": len(giant_ids),
        "styled": len(styled_ids),
        "sha256": digest.hexdigest(),
        # seeded samples: output checks and the single-thread core probe
        "sample_plain": pick.sample(plain_ids, min(PROBE_DOCS, len(plain_ids))),
        "sample_styled": pick.sample(styled_ids, min(CHECK_DOCS, len(styled_ids))),
        "sample_giant": giant_ids[:2],
    }
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    shutil.rmtree(root, ignore_errors=True)
    os.rename(tmp, root)
    manifest["path"] = os.path.join(root, "data")
    return manifest


def load_docs(manifest: dict, doc_ids: list[str]) -> dict[str, dict]:
    """Read back the given documents from a cached corpus."""
    import pyarrow.dataset as ds

    table = ds.dataset(manifest["path"]).to_table(
        filter=ds.field("doc_id").isin(doc_ids))
    return {d["doc_id"]: d for d in table.to_pylist()}
