"""Single-thread, in-process probe of the ``core`` layer.

Runs ``core.extract.extract_document`` and ``core.minify.minify_html`` on
a seeded sample of the workload's own corpus: plain pages, the same pages
with a seeded ``<style>`` block (the token-list walker), and giant pages
(generated as the corpus generates them if the corpus has none).
No Spark is involved, so the numbers are the per-document walker cost
that the ``mapInArrow`` stage pays on every core.
"""

from __future__ import annotations

import random
import statistics
import time

from inputs import giants, load_docs, style_block, with_style


def _pct(sorted_vals: list[float], q: float) -> float:
    return sorted_vals[min(len(sorted_vals) - 1, int(q * len(sorted_vals)))]


def probe(manifest: dict, seed: int) -> dict:
    from html_to_document_spark.core.extract import assemble_html, extract_document
    from html_to_document_spark.core.minify import minify_html

    docs = load_docs(manifest, manifest["sample_plain"] + manifest["sample_giant"])
    rng = random.Random(seed * 31 + 5)
    plain = [assemble_html(docs[i]["spans"]) for i in manifest["sample_plain"]]
    styled = [assemble_html(with_style(docs[i], style_block(rng))["spans"])
              for i in manifest["sample_plain"]]
    # a corpus without giant pages still gets one, cut the same way
    giant = [assemble_html(d["spans"]) for d in
             [docs[i] for i in manifest["sample_giant"]]
             or giants(seed, manifest["input_docs"], 1)]

    out = {}
    per_doc_us: list[float] = []
    spans = 0
    for kind, htmls in (("plain", plain), ("styled", styled), ("giant", giant)):
        busy = 0.0
        for h in htmls:
            t0 = time.perf_counter()
            spans += len(extract_document(h))
            dt = time.perf_counter() - t0
            busy += dt
            if kind != "giant":
                per_doc_us.append(dt * 1e6)
        out[f"core.extract.{kind}_mb_per_s"] = sum(map(len, htmls)) / 1e6 / busy
    per_doc_us.sort()
    out["core.extract.doc_p50_us"] = statistics.median(per_doc_us)
    out["core.extract.doc_p99_us"] = _pct(per_doc_us, 0.99)
    out["core.extract.spans_out"] = spans

    t0 = time.perf_counter()
    for h in plain + styled:
        minify_html(h)
    out["core.minify.mb_per_s"] = (
        sum(map(len, plain + styled)) / 1e6 / (time.perf_counter() - t0))
    return out
