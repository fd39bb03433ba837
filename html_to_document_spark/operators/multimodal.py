"""Multimodal column plumbing (task brief).

Media (image/audio/video) travels as opaque ``binary`` columns with a
typed metadata struct; decode / feature-extract / resize / frame-sample
run as Arrow-batched ``mapInPandas`` stages.

Decode backends are FEATURE-DETECTED at call time (this container has
no image/audio libs, real clusters do):

- ``fake=True`` (default, the test path): deterministic pseudo-features
  / content surrogates. Batch shapes, schema, partitioning and meta
  propagation are identical to the real path, so the Spark-side
  pipeline is fully real and tested end-to-end everywhere.
- ``fake=False``: uses PIL for image decode/resize WHEN IMPORTABLE;
  raises ``NotImplementedError`` when it is absent. Video frame
  sampling has no real decoder, so it always raises there. Schemas
  are identical to the fake path by construction (same column
  builders).
"""

from __future__ import annotations

import hashlib
import io
from collections.abc import Iterator
from typing import TYPE_CHECKING

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame

MEDIA_SCHEMA = (
    "doc_id string, media_ref string, content binary, "
    "meta struct<mime:string, width:int, height:int, duration_ms:int>"
)

FEATURE_SCHEMA = (
    "doc_id string, media_ref string, mime string, n_bytes int, "
    "sha256 string, feature array<float>"
)


def _pil_image():
    """PIL.Image when importable, else None (feature detection; called
    inside the UDF so detection happens on the EXECUTOR, not the
    driver — the two can differ on a real cluster)."""
    try:
        from PIL import Image  # noqa: PLC0415

        return Image
    except ImportError:
        return None


def _fake_feature(content: bytes, dim: int) -> list[float]:
    """Deterministic stand-in for a real encoder: bytes -> unit-ish vec."""
    out = []
    h = content or b""
    counter = 0
    while len(out) < dim:
        d = hashlib.sha256(h + counter.to_bytes(4, "big")).digest()
        out.extend(b / 255.0 - 0.5 for b in d)
        counter += 1
    return [round(x, 6) for x in out[:dim]]


def _pil_feature(image_mod, content: bytes, dim: int) -> list[float] | None:
    """Real image feature: decode, grayscale, downsample to a fixed
    thumbnail, normalized pixel intensities as the vector. Deterministic
    for a given input. None when the bytes aren't a decodable image."""
    try:
        img = image_mod.open(io.BytesIO(content))
        side = max(int(dim ** 0.5), 1)
        thumb = img.convert("L").resize((side, max(dim // side, 1)))
        pixels = list(thumb.getdata())
    except Exception:
        return None
    feat = [round(p / 255.0 - 0.5, 6) for p in pixels]
    return (feat + [0.0] * dim)[:dim]


def decode_media(
    df: "DataFrame", *, fake: bool = True, feature_dim: int = 16
) -> "DataFrame":
    """binary media -> features. ``fake=False`` decodes real images via
    PIL when importable (non-decodable rows fall back to the
    deterministic byte-hash feature so the stage is total); it raises
    ``NotImplementedError`` only when PIL is absent."""
    import pandas as pd

    def fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        image_mod = None
        if not fake:
            image_mod = _pil_image()
            if image_mod is None:
                raise NotImplementedError(
                    "real media decode requires PIL, which is not "
                    "importable on this executor — use fake=True for "
                    "plumbing tests"
                )
        for pdf in batches:
            contents = [bytes(c) if c is not None else b"" for c in pdf["content"]]
            if image_mod is None:
                feats = [_fake_feature(c, feature_dim) for c in contents]
            else:
                feats = [
                    _pil_feature(image_mod, c, feature_dim)
                    or _fake_feature(c, feature_dim)
                    for c in contents
                ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_ref": pdf["media_ref"],
                    "mime": [m["mime"] if m else None for m in pdf["meta"]],
                    "n_bytes": [len(c) for c in contents],
                    "sha256": [hashlib.sha256(c).hexdigest() for c in contents],
                    "feature": feats,
                }
            )

    return df.mapInPandas(fn, FEATURE_SCHEMA)


def resize_images(
    df: "DataFrame", width: int = 64, height: int = 64, *, fake: bool = True
) -> "DataFrame":
    """Image resize: binary in -> binary out with updated meta.
    ``fake=False`` uses PIL (PNG re-encode) when importable; rows whose
    bytes don't decode pass through the deterministic surrogate path so
    the stage is total. The ``fake`` path emits the surrogate (sha256 of
    input bytes + target dims) with the real schema/batching."""
    import pandas as pd

    def surrogate(c: bytes) -> bytes:
        digest = hashlib.sha256(
            c + width.to_bytes(4, "big") + height.to_bytes(4, "big")
        ).digest()
        return digest * 4  # sized like a tiny thumbnail

    def fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        image_mod = None
        if not fake:
            image_mod = _pil_image()
            if image_mod is None:
                raise NotImplementedError(
                    "real image resize requires PIL, which is not "
                    "importable on this executor"
                )
        for pdf in batches:
            contents, metas = [], []
            for content, meta in zip(pdf["content"], pdf["meta"]):
                c = bytes(content) if content is not None else b""
                out_bytes = None
                mime = (meta or {}).get("mime")
                if image_mod is not None:
                    try:
                        img = image_mod.open(io.BytesIO(c))
                        buf = io.BytesIO()
                        img.resize((width, height)).save(buf, format="PNG")
                        out_bytes = buf.getvalue()
                        mime = "image/png"
                    except Exception:
                        out_bytes = None
                contents.append(out_bytes if out_bytes is not None else surrogate(c))
                m = dict(meta or {})
                m["width"], m["height"] = width, height
                m["mime"] = mime if mime is not None else m.get("mime")
                m.setdefault("mime", None)
                m.setdefault("duration_ms", None)
                metas.append(m)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_ref": pdf["media_ref"],
                    "content": contents,
                    "meta": metas,
                }
            )

    return df.mapInPandas(fn, MEDIA_SCHEMA)


def frame_sample(
    df: "DataFrame", every_ms: int = 1000, *, fake: bool = True
) -> "DataFrame":
    """Video frame sampling: one output row per sampled frame position
    (duration-driven). The ``frame`` column is a deterministic CONTENT
    DIGEST of (video bytes, position), never decoded pixels — real
    frame extraction is not implemented, so ``fake=False`` always
    raises ``NotImplementedError`` (ffprobe being on PATH does not make
    the output real; ADVICE r3). The sampling positions, schema and
    batching are what a real decoder would produce."""
    import pandas as pd

    schema = "doc_id string, media_ref string, frame_ms int, frame string"

    def fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        if not fake:
            raise NotImplementedError(
                "real frame decode is not implemented (the fake path "
                "returns content digests, not pixels); call with "
                "fake=True"
            )
        for pdf in batches:
            rows = {"doc_id": [], "media_ref": [], "frame_ms": [], "frame": []}
            for doc_id, ref, content, meta in zip(
                pdf["doc_id"], pdf["media_ref"], pdf["content"], pdf["meta"]
            ):
                dur = (meta or {}).get("duration_ms") or 0
                c = bytes(content) if content is not None else b""
                for ms in range(0, max(int(dur), 1), every_ms):
                    rows["doc_id"].append(doc_id)
                    rows["media_ref"].append(ref)
                    rows["frame_ms"].append(ms)
                    rows["frame"].append(
                        hashlib.sha256(c + ms.to_bytes(8, "big")).hexdigest()[:16]
                    )
            yield pd.DataFrame(rows)

    return df.mapInPandas(fn, schema)
