"""Multimodal column handling: images/audio/video as opaque ``binary``
columns with typed metadata.

The perceptual-hash step runs a REAL image decode: Pillow when
importable on the executors (optional dependency, C-speed, every
format), else a pure-stdlib PNG decoder (``_png_decode_gray``) so the
real path stays exercised even in minimal containers.
``deterministic_fake=True`` hashes the bytes instead, so the
*Spark-side plumbing* — schema, Arrow batch shape, ``mapInPandas``
partition flow — is testable with no decoding at all.

Scale posture: Arrow-batched ``mapInPandas`` (one Python worker per
partition, vectorized transfer), metadata pushdown happens before decode
(filter on width/height/duration BEFORE touching bytes), and binary
payloads never shuffle — all derived features are narrow projections.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def attach_image_metadata(df: DataFrame, binary_col: str = "content") -> DataFrame:
    """Cheap header sniffing without full decode: format magic bytes +
    payload size. Pure JVM functions — runs in codegen, no Python.
    Recognizes png/jpeg/gif/wav (RIFF....WAVE)."""
    b = F.col(binary_col)
    magic = F.hex(F.substring(b, 1, 4))
    fmt = (
        F.when(magic.startswith("89504E47"), "png")
        .when(magic.startswith("FFD8FF"), "jpeg")
        .when(magic.startswith("47494638"), "gif")
        .when(magic.startswith("52494646")
              & (F.hex(F.substring(b, 9, 4)) == "57415645"), "wav")
        .otherwise("unknown")
    )
    return df.withColumn("format", fmt).withColumn("n_bytes", F.length(b))


def _pil_available() -> bool:
    import importlib.util

    return importlib.util.find_spec("PIL") is not None


def _png_decode_gray(raw: bytes):
    """Minimal pure-stdlib PNG decode -> (width, height, float32 gray
    array). Supports the common subset: 8-bit depth, color types
    0/2/4/6 (gray, RGB, gray+alpha, RGBA), non-interlaced, all five
    scanline filters. RGB folds to luma with the ITU-R 601 weights
    Pillow's ``convert("L")`` uses, so both backends agree.

    This is the no-Pillow fallback so the REAL decode path stays
    exercised in minimal containers (CI); it unfilters scanlines in
    Python, so for production-scale image corpora install Pillow on
    the executors (C-speed decode of every format, not just PNG)."""
    import struct
    import zlib

    import numpy as np

    if raw[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload")
    pos, ihdr, idat = 8, None, []
    while pos + 8 <= len(raw):
        length, ctype = struct.unpack(">I4s", raw[pos:pos + 8])
        pos += 8
        data = raw[pos:pos + length]
        pos += length + 4  # payload + CRC
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
    if ihdr is None or not idat:
        raise ValueError("truncated PNG")
    w, h, depth, color, _comp, _filt, interlace = ihdr
    if depth != 8 or interlace != 0 or color not in (0, 2, 4, 6):
        raise ValueError(
            f"unsupported PNG variant (depth={depth}, color={color}, "
            f"interlace={interlace})"
        )
    channels = {0: 1, 2: 3, 4: 2, 6: 4}[color]
    stride = w * channels
    dec = zlib.decompress(b"".join(idat))
    if len(dec) != (stride + 1) * h:
        raise ValueError("PNG pixel data has wrong length")
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    bpp = channels
    for y in range(h):
        f = dec[y * (stride + 1)]
        cur = np.frombuffer(
            dec[y * (stride + 1) + 1:(y + 1) * (stride + 1)],
            dtype=np.uint8,
        ).astype(np.int32)
        if f == 0:
            pass
        elif f == 1:  # Sub
            for x in range(bpp, stride):
                cur[x] = (cur[x] + cur[x - bpp]) & 0xFF
        elif f == 2:  # Up
            cur = (cur + prev) & 0xFF
        elif f == 3:  # Average
            for x in range(stride):
                left = cur[x - bpp] if x >= bpp else 0
                cur[x] = (cur[x] + ((left + prev[x]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (
                    b if pb <= pc else c)
                cur[x] = (cur[x] + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {f}")
        out[y] = cur.astype(np.uint8)
        prev = cur
    px = out.reshape(h, w, channels).astype("float32")
    if color in (0, 4):  # gray / gray+alpha -> luma channel
        gray = px[:, :, 0]
    else:  # RGB / RGBA -> ITU-R 601 luma, truncated exactly like
        # Pillow's integer convert("L") so both backends agree bit-wise
        gray = np.floor(
            (px[:, :, 0] * 299 + px[:, :, 1] * 587
             + px[:, :, 2] * 114) / 1000.0
        )
    return w, h, gray


PHASH_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("phash", T.LongType()),
])


def _block_mean_resize(gray, out_h: int, out_w: int):
    """Deterministic area-mean downscale: output cell (i, j) is the
    mean of the input region [i*h/out_h, (i+1)*h/out_h) x
    [j*w/out_w, (j+1)*w/out_w) — pure numpy, no interpolation library,
    so the hash replays bit-for-bit anywhere."""
    import numpy as np

    h, w = gray.shape
    out = np.empty((out_h, out_w), dtype="float64")
    for i in range(out_h):
        y0, y1 = i * h // out_h, max((i + 1) * h // out_h, i * h // out_h + 1)
        for j in range(out_w):
            x0 = j * w // out_w
            x1 = max((j + 1) * w // out_w, x0 + 1)
            out[i, j] = gray[y0:y1, x0:x1].mean()
    return out


def _phash_bits(gray, method: str) -> int:
    """64-bit perceptual hash of a grayscale array.

    - ``ahash``: 8x8 block-mean resize, bit = pixel > global mean;
    - ``dhash``: 8x9 resize, bit = px[x] > px[x+1] (row gradient) —
      more robust to global brightness shifts.

    Strict > keeps ties at 0 (deterministic). Bits pack row-major,
    MSB first, then wrap into a SIGNED 64-bit value (Spark bigint)."""
    if method == "ahash":
        g = _block_mean_resize(gray, 8, 8)
        bits = (g > g.mean()).flatten()
    elif method == "dhash":
        g = _block_mean_resize(gray, 8, 9)
        bits = (g[:, :-1] > g[:, 1:]).flatten()
    else:
        raise ValueError(f"unknown phash method {method!r}")
    v = 0
    for b in bits:
        v = (v << 1) | int(b)
    return v - (1 << 64) if v >= (1 << 63) else v


def image_phash(
    df: DataFrame, id_col: str = "id", binary_col: str = "content",
    method: str = "dhash", deterministic_fake: bool = False,
) -> DataFrame:
    """(id, phash bigint): 64-bit perceptual hash per image — aHash
    (block-mean) or dHash (gradient), the standard near-duplicate
    fingerprints for image corpora. Decode backend: Pillow when
    importable, pure-stdlib PNG otherwise; ``deterministic_fake``
    hashes the bytes instead for plumbing tests. Undecodable payloads yield NULL phash — filter or
    quarantine them explicitly. Arrow-batched ``mapInPandas``; the
    hash is 8 bytes per image, so the downstream pair join never
    touches pixel data."""
    if method not in ("ahash", "dhash"):
        raise ValueError("method must be 'ahash' or 'dhash'")

    def compute(batches: Iterator["pandas.DataFrame"]):  # noqa: F821
        import hashlib
        import io

        import numpy as np
        import pandas as pd

        use_pil = not deterministic_fake and _pil_available()
        if use_pil:
            from PIL import Image

        def real_decode(raw: bytes):
            if use_pil:
                img = Image.open(io.BytesIO(raw)).convert("L")
                return np.asarray(img, dtype="float32")
            return _png_decode_gray(raw)[2]

        for pdf in batches:
            ids, hashes = [], []
            for rid, payload in zip(pdf[id_col], pdf[binary_col]):
                raw = bytes(payload) if payload is not None else b""
                ids.append(int(rid))
                if deterministic_fake:
                    d = hashlib.sha256(raw).digest()
                    v = int.from_bytes(d[:8], "big")
                    hashes.append(v - (1 << 64) if v >= (1 << 63) else v)
                    continue
                try:
                    hashes.append(_phash_bits(real_decode(raw), method))
                except Exception:
                    hashes.append(None)
            yield pd.DataFrame({"id": ids, "phash": hashes})

    return df.select(id_col, binary_col).mapInPandas(
        compute, schema=PHASH_SCHEMA)


def _banded_phashes(ph: DataFrame, max_hamming: int) -> DataFrame:
    """(id, phash, chunk_pos, chunk_val) pigeonhole rows: the 64-bit
    hash splits into ``max_hamming + 1`` chunks, so any pair within
    the Hamming bound agrees on at least one chunk exactly. Shared by
    the self-join (:func:`image_near_dup_pairs`) and the cross-probe
    (:func:`image_dedup_against`) so both band identically. NULL
    hashes (undecodable payloads) are quarantined out."""
    from .dedup import _chunk_widths

    ph = ph.filter(F.col("phash").isNotNull())
    widths = _chunk_widths(64, max_hamming + 1)
    chunk_exprs = []
    shift = 64
    for w in widths:
        shift -= w
        chunk_exprs.append(
            F.shiftrightunsigned(F.col("phash"), shift)
            .bitwiseAND(F.lit((1 << w) - 1)))
    return ph.select(
        "id", "phash",
        F.posexplode(F.array(*chunk_exprs)).alias(
            "chunk_pos", "chunk_val"),
    )


def image_dedup_against(
    new_df: DataFrame, corpus_phashes: DataFrame,
    id_col: str = "id", binary_col: str = "content",
    max_hamming: int = 5, method: str = "dhash",
    deterministic_fake: bool = False,
    new_phashes: DataFrame | None = None,
    exclude_self: bool = False,
) -> DataFrame:
    """Near-duplicate matches of a NEW image batch AGAINST a stored
    perceptual-hash table — the image analogue of
    ops/dedup_index.dedup_against: hash the corpus once (persist the
    ``image_phash`` output — 8 bytes/image), then every future batch
    hashes only itself and meets the stored hashes in the pigeonhole
    chunk join. Returns (new_id, corpus_id, hamming), one row per
    cross pair within ``max_hamming`` — complete at the bound (any
    such pair agrees on ≥1 of the max_hamming+1 chunks exactly).

    ``corpus_phashes`` must be (id, phash) rows hashed with the SAME
    ``method`` (the caller's contract — aHash and dHash bits are not
    comparable). ``new_phashes`` skips hashing the batch when its
    hashes are already at hand. ``exclude_self`` drops new_id ==
    corpus_id rows when probing a corpus with a slice of itself
    (default False: disjoint id spaces must keep numeric
    collisions — the ops/similarity.ann_search convention)."""
    nh = new_phashes if new_phashes is not None else image_phash(
        new_df, id_col, binary_col, method, deterministic_fake)
    a = _banded_phashes(nh, max_hamming).alias("a")
    b = _banded_phashes(
        corpus_phashes.select("id", "phash"), max_hamming).alias("b")
    ham = F.bit_count(F.col("a.phash").bitwiseXOR(F.col("b.phash")))
    cond = ((F.col("a.chunk_pos") == F.col("b.chunk_pos"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val")))
    if exclude_self:
        cond = cond & (F.col("a.id") != F.col("b.id"))
    return (
        a.join(b, cond)
        .select(F.col("a.id").alias("new_id"),
                F.col("b.id").alias("corpus_id"), ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["new_id", "corpus_id"])
    )


def image_near_dup_pairs(
    df: DataFrame, id_col: str = "id", binary_col: str = "content",
    max_hamming: int = 5, method: str = "dhash",
    deterministic_fake: bool = False,
    phashes: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate image pairs (id_a < id_b, hamming <=
    ``max_hamming``) by perceptual hash + the SimHash pigeonhole
    banding (ops/dedup.simhash_near_pairs): the 64-bit hash splits
    into ``max_hamming + 1`` chunks, so any pair within the bound
    agrees on at least one chunk exactly — the chunk-equality
    self-join is COMPLETE for the requested distance, never all-pairs.
    Exact Hamming distance (one codegen'd ``bit_count(xor)``) then
    filters. Pass ``phashes`` (id, phash) to reuse a precomputed/
    persisted hash table — at corpus scale hash once, pair many."""
    ph = phashes if phashes is not None else image_phash(
        df, id_col, binary_col, method, deterministic_fake)
    banded = _banded_phashes(ph, max_hamming)
    a = banded.alias("a")
    b = banded.alias("b")
    ham = F.bit_count(F.col("a.phash").bitwiseXOR(F.col("b.phash")))
    return (
        a.join(b, (F.col("a.chunk_pos") == F.col("b.chunk_pos"))
               & (F.col("a.chunk_val") == F.col("b.chunk_val"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"), ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )
