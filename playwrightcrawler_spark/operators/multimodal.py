"""Multimodal column plumbing: image/audio/video as opaque binary + typed
metadata.

The decode mirrors the reference image handler (content_type_images,
playwrightcrawler.py:3771-3939): Pillow decode, mode normalization
(CMYK→RGB, palette+transparency→RGBA), resolution = width*height, a
sha512-of-pixels filename, the per-image error taxonomy
(unidentified_image_error / decompression_bomb_error / oserror) and an
optional NSFW-probability hook (``isnsfw``). PIL is import-guarded exactly
like bs4 in ``textextract`` — on a production cluster with Pillow
installed the REAL decoder runs with zero code change; in this sandbox
(no PIL) ``real_decode`` degrades row-wise to ``decoder_unavailable`` and
tests use the deterministic ``fake_decode``. Everything Spark-side —
schemas, the mapInPandas batch shape, partition sizing — is real and
tested either way.
"""

from __future__ import annotations

import hashlib
import io
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

try:  # pragma: no cover - exercised only where Pillow is installed
    from PIL import Image, UnidentifiedImageError  # type: ignore

    _HAVE_PIL = True
except ImportError:
    _HAVE_PIL = False

try:  # pragma: no cover - public NSFW model (reference ships opennsfw2)
    import opennsfw2 as _opennsfw2  # type: ignore

    _HAVE_NSFW = True
except ImportError:
    _HAVE_NSFW = False

MEDIA_META_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("media_type", T.StringType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("sha256", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("resolution", T.LongType()),
    T.StructField("mode", T.StringType()),
    T.StructField("filename", T.StringType()),
    T.StructField("isnsfw", T.DoubleType()),
    T.StructField("decode_ok", T.BooleanType()),
    T.StructField("decode_error", T.StringType()),
])

# exception → the reference's source-tag taxonomy (:3898-3930)
_ERROR_TAXONOMY = {
    "UnidentifiedImageError": "unidentified_image_error",
    "DecompressionBombError": "decompression_bomb_error",
    "OSError": "oserror",
}


def real_decode(payload: bytes) -> dict:
    """Pillow decode with the reference's normalization (:3849-3864):
    CMYK→RGB, palette-with-transparency→RGBA, sha512(pixels) filename.
    Returns {width, height, mode, filename, image}; raises
    NotImplementedError when Pillow is absent (this sandbox)."""
    if not _HAVE_PIL:
        raise NotImplementedError(
            "image decode requires Pillow; not installed in this sandbox. "
            "Pass decoder=fake_decode for the deterministic test path."
        )
    img = Image.open(io.BytesIO(payload))
    width, height = img.size
    if img.mode == "CMYK":
        img = img.convert("RGB")
    if img.mode == "P" and "transparency" in img.info:
        img = img.convert("RGBA")
    filename = hashlib.sha512(img.tobytes()).hexdigest() + ".png"
    return {"width": width, "height": height, "mode": img.mode,
            "filename": filename, "image": img}


def fake_decode(payload: bytes) -> dict:
    """Deterministic stand-in: stable (width, height) from the first two
    payload bytes so tests AND the DuckDB oracle can recompute them
    independently; filename hashes the raw payload (no pixel buffer
    without a real decoder)."""
    b0 = payload[0] if payload else 0
    b1 = payload[1] if len(payload) > 1 else 0
    return {
        "width": 16 + b0 % 64,
        "height": 16 + b1 % 64,
        "mode": "RGB",
        "filename": hashlib.sha512(payload).hexdigest() + ".png",
        "image": None,
    }


def real_nsfw_scorer(decoded: dict) -> float:
    """The public opennsfw2 model on the decoded Pillow image — the exact
    scorer the reference wires into ``isnsfw`` (playwrightcrawler.py:
    3866-3881). Import-guarded like PIL/bs4: on a cluster with
    Pillow+opennsfw2 installed this runs with zero code change; in this
    sandbox it raises and callers use ``fake_nsfw_scorer``."""
    if not _HAVE_NSFW:
        raise NotImplementedError(
            "NSFW scoring requires opennsfw2; not installed in this "
            "sandbox. Pass nsfw_scorer=fake_nsfw_scorer for the "
            "deterministic test path."
        )
    return float(_opennsfw2.predict_image(decoded["image"]))


def fake_nsfw_scorer(decoded: dict) -> float:
    """Deterministic stand-in: probability derived from the decoded
    filename hash — stable across runs/platforms, so the full seam
    (decode → MIN_NSFW_RES gate → scorer → isnsfw column) is exercised
    end-to-end and assertable without the model."""
    h = (decoded.get("filename") or "0").split(".")[0][:4] or "0"
    return int(h, 16) / 65535.0


def default_nsfw_scorer() -> Callable[[dict], float] | None:
    """The scorer a production deployment gets by default: the real model
    when its import succeeded, else None (isnsfw stays NULL — the
    reference's behavior with NSFW scoring disabled)."""
    return real_nsfw_scorer if _HAVE_NSFW else None


def extract_media_metadata(
    df: DataFrame,
    url_col: str = "url",
    bin_col: str = "html",
    media_type: str = "image",
    decoder: Callable[[bytes], dict] = real_decode,
    nsfw_scorer: Callable[[dict], float] | None = None,
    min_nsfw_res: int = 0,
) -> DataFrame:
    """mapInPandas over (url, payload): hashes + byte counts always; width/
    height/mode/filename via the decode hook, errors captured per-row not
    per-task with the reference's taxonomy (:3896-3930). ``nsfw_scorer``
    is the ``isnsfw`` seam (reference opennsfw2 hook, :3866-3881): it
    receives the decoded dict and returns a probability; skipped (NULL)
    when absent, when decode fails, or below ``min_nsfw_res`` pixels —
    mirroring the reference's MIN_NSFW_RES gate."""

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url, payload in zip(pdf[url_col], pdf[bin_col]):
                payload = bytes(payload) if payload is not None else b""
                meta = {
                    "url": url,
                    "media_type": media_type,
                    "n_bytes": len(payload),
                    "sha256": hashlib.sha256(payload).hexdigest(),
                    "width": None,
                    "height": None,
                    "resolution": None,
                    "mode": None,
                    "filename": None,
                    "isnsfw": None,
                    "decode_ok": False,
                    "decode_error": None,
                }
                try:
                    d = decoder(payload)
                    res = d["width"] * d["height"]
                    meta.update(
                        width=d["width"], height=d["height"], resolution=res,
                        mode=d["mode"], filename=d["filename"], decode_ok=True,
                    )
                    if nsfw_scorer is not None and res > min_nsfw_res:
                        meta["isnsfw"] = float(nsfw_scorer(d))
                except NotImplementedError:
                    meta["decode_error"] = "decoder_unavailable"
                except Exception as e:  # corrupt payloads must not kill tasks
                    name = type(e).__name__
                    meta["decode_error"] = _ERROR_TAXONOMY.get(name, name)
                rows.append(meta)
            yield pd.DataFrame(rows, columns=[f.name for f in MEDIA_META_SCHEMA.fields])

    return df.select(url_col, bin_col).mapInPandas(process, MEDIA_META_SCHEMA)
