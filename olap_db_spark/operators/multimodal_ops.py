"""Multimodal-column operators (BASELINE.json north_star: "multimodal
columns"): image/audio/video as opaque BINARY payloads with typed metadata,
processed by Arrow-batched ``mapInPandas`` pipelines.

The container has no image/audio libraries, so the engine carries its OWN
real decode path for a format simple enough to parse from first principles:
24bpp BMP (struct header parse, bottom-up row order, 4-byte row padding,
numpy pixel slicing). Every multimodal query is oracle-checked end-to-end —
``mm_binary_features`` against deterministic byte features DuckDB derives
from the same payloads, ``mm_real_decode_stats`` and
``mm_decode_resize_stats`` against the closed-form pixel formula the
synthesized images encode (so decoder bugs, not just plumbing bugs, fail
the hash). Other codecs (JPEG/PNG/audio) would slot into the same
mapInPandas shape with a library decode inside the closure.

Scale notes: mapInPandas streams Arrow batches — constant memory per task
regardless of table size; binary payloads never pass through Python row
objects. For 100 TB media, payloads stay in object storage and the binary
column holds (uri, offset, nbytes) pointers — same schema, same pipeline.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..registry import register
from ..session import local_frame
from ._materialize import materialize

def with_binary_payload(docs: DataFrame) -> DataFrame:
    """documents → (doc_id, payload BINARY, meta STRUCT) — the engine's
    canonical multimodal row shape."""
    return docs.select(
        "doc_id",
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.struct(
            F.lit("text-bytes").alias("modality"),
            F.length(F.encode(F.col("text"), "utf-8")).alias("n_bytes"),
            F.col("source").alias("origin"),
        ).alias("meta"),
    )


_FEATURES_SCHEMA = (
    "doc_id LONG, n_bytes LONG, content_md5 STRING, head_hex STRING"
)


def _make_extract_features():
    """Build the mapInPandas function as a SELF-CONTAINED closure.

    Worker-side functions must not reference this package: cloudpickle
    serializes module-level functions by reference, and executor Python
    workers (driver-owned session, arbitrary cwd) cannot import
    ``olap_db_spark``. A nested closure referencing only stdlib/pandas is
    pickled by value and runs anywhere."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hl

        import pandas as _pd

        for pdf in batches:
            payloads = pdf["payload"]
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": payloads.map(len).astype("int64"),
                    "content_md5": payloads.map(
                        lambda b: _hl.md5(bytes(b)).hexdigest()
                    ),
                    "head_hex": payloads.map(lambda b: bytes(b)[:4].hex()),
                }
            )

    return extract


_FEATURES_ORACLE = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS content_md5,
       lower(hex(encode(substr(text, 1, 4)))) AS head_hex
FROM documents
"""


@register("mm_binary_features", oracle=_FEATURES_ORACLE, tags=("multimodal", "northstar"))
def mm_binary_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload feature extraction through a real mapInPandas
    pipeline, oracle-checked: the fake 'decode' emits deterministic
    features DuckDB derives from the same bytes. (Texts are ASCII so the
    char/byte substr equivalence in the oracle holds.)"""
    docs = load(spark, sf_dir, "documents")
    payloads = with_binary_payload(docs).select("doc_id", "payload")
    return payloads.mapInPandas(_make_extract_features(), schema=_FEATURES_SCHEMA)


# --- REAL image decode (BMP — no external libs needed) -------------------------

_BMP_W, _BMP_H = 18, 12  # w*3 = 54 → 2 pad bytes per row (exercises padding)


def _make_bmp_synth():
    """Pandas UDF factory: doc_id → real 24bpp BMP bytes (deterministic
    gradient pixels lum(x,y) = (doc_id*31 + 7x + 13y) mod 256). BMP rows
    are stored BOTTOM-UP with 4-byte padding — both quirks deliberately
    exercised so the decoder has something real to get wrong.
    Self-contained closure (executor import rule)."""
    from pyspark.sql.functions import pandas_udf as _pudf

    w, h = _BMP_W, _BMP_H

    def synth(doc_ids):
        import struct as _struct

        import pandas as _pd

        row_bytes = (w * 3 + 3) // 4 * 4
        img_size = row_bytes * h
        off = 14 + 40

        def one(doc_id):
            header = b"BM" + _struct.pack("<IHHI", off + img_size, 0, 0, off)
            info = _struct.pack(
                "<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0
            )
            out = [header, info]
            for yy in range(h):  # bottom-up storage
                y = h - 1 - yy
                row = bytearray()
                for x in range(w):
                    lum = (doc_id * 31 + x * 7 + y * 13) % 256
                    row += bytes((lum, lum, lum))
                row += b"\x00" * (row_bytes - len(row))
                out.append(bytes(row))
            return b"".join(out)

        return _pd.Series([one(int(d)) for d in doc_ids])

    return _pudf(synth, "binary")


_BMP_STATS_SCHEMA = (
    "doc_id LONG, width LONG, height LONG, lum_mean DOUBLE, "
    "lum_min LONG, lum_max LONG, tl_mean DOUBLE"
)


def _make_bmp_decoder():
    """REAL decoder as a mapInPandas closure: parses the BMP file +
    DIB headers with struct, slices pixel rows out with numpy (honoring
    row padding), flips the bottom-up row order, and reduces to stats.
    No image library involved — this is the actual bytes-to-pixels path."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct as _struct

        import numpy as _np
        import pandas as _pd

        def one(buf: bytes):
            assert buf[:2] == b"BM", "not a BMP"
            (off,) = _struct.unpack_from("<I", buf, 10)
            hdr_sz, w, h, _planes, bpp = _struct.unpack_from("<IiiHH", buf, 14)
            assert hdr_sz == 40 and bpp == 24, (hdr_sz, bpp)
            bottom_up = h > 0
            h = abs(h)
            row_bytes = (w * 3 + 3) // 4 * 4
            px = _np.frombuffer(buf, dtype=_np.uint8, count=row_bytes * h, offset=off)
            px = px.reshape(h, row_bytes)[:, : w * 3].reshape(h, w, 3)
            if bottom_up:
                px = px[::-1]
            lum = px[:, :, 0].astype(_np.int64)  # grayscale: B==G==R
            tl = lum[: h // 2, : w // 2]
            return (
                w,
                h,
                float(int(lum.sum())) / (w * h),
                int(lum.min()),
                int(lum.max()),
                float(int(tl.sum())) / tl.size,
            )

        for pdf in batches:
            stats = [one(bytes(b)) for b in pdf["payload"]]
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "width": [s[0] for s in stats],
                    "height": [s[1] for s in stats],
                    "lum_mean": [s[2] for s in stats],
                    "lum_min": [s[3] for s in stats],
                    "lum_max": [s[4] for s in stats],
                    "tl_mean": [s[5] for s in stats],
                }
            )

    return decode


def _make_bmp_fused_synth_one():
    """The fused BMP pipeline's per-doc synth body, exposed as a
    module-level factory so the pytest byte-identity assertion
    (tests/test_fused_multimodal.py) runs against the EXACT closure the
    executors run, not a re-implementation. Returned closure is
    self-contained (captures only plain values + numpy arrays — pickled
    by value; executor import rule)."""
    import struct as _struct

    import numpy as _np

    w, h = _BMP_W, _BMP_H
    row_bytes = (w * 3 + 3) // 4 * 4
    img_size = row_bytes * h
    off = 14 + 40
    header = b"BM" + _struct.pack("<IHHI", off + img_size, 0, 0, off)
    info = _struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0
    )
    xg = _np.arange(w)
    yg = _np.arange(h)

    def synth_one(doc_id):
        lum = ((doc_id * 31 + 7 * xg[None, :] + 13 * yg[:, None]) % 256).astype(
            _np.uint8
        )
        rows = _np.zeros((h, row_bytes), _np.uint8)
        rows[:, : w * 3] = _np.repeat(lum[:, :, None], 3, axis=2).reshape(
            h, w * 3
        )
        return header + info + rows[::-1].tobytes()  # bottom-up storage

    return synth_one


def _make_bmp_pipeline():
    """FUSED synth→decode mapInPandas factory (r12 optimization): one
    Python stage builds each doc's genuine 24bpp BMP bytes (numpy gradient
    + struct headers — byte-identical to ``_make_bmp_synth``, asserted in
    pytest) and decodes them through the same real header-parse +
    pixel-slice path as ``_make_bmp_decoder``.

    Why fused (guide §4.1/§2.3): the two-stage form shipped every ~700 B
    BMP JVM→Python→JVM→Python — three Arrow serializations of a purely
    intermediate payload — and synthesized pixels with a per-PIXEL Python
    loop (216 iterations/doc). Fused: payload never crosses the boundary,
    pixels synthesize as one vectorized numpy expression per doc.
    Self-contained closure (executor import rule): ``synth_one`` is built
    once on the driver and captured by value."""

    synth_one = _make_bmp_fused_synth_one()

    def run(batches):
        import struct as _struct

        import numpy as _np
        import pandas as _pd

        def decode_one(buf):
            assert buf[:2] == b"BM", "not a BMP"
            (poff,) = _struct.unpack_from("<I", buf, 10)
            hdr_sz, pw, ph, _planes, bpp = _struct.unpack_from("<IiiHH", buf, 14)
            assert hdr_sz == 40 and bpp == 24, (hdr_sz, bpp)
            bottom_up = ph > 0
            ph = abs(ph)
            prow_bytes = (pw * 3 + 3) // 4 * 4
            px = _np.frombuffer(
                buf, dtype=_np.uint8, count=prow_bytes * ph, offset=poff
            )
            px = px.reshape(ph, prow_bytes)[:, : pw * 3].reshape(ph, pw, 3)
            if bottom_up:
                px = px[::-1]
            lum = px[:, :, 0].astype(_np.int64)  # grayscale: B==G==R
            tl = lum[: ph // 2, : pw // 2]
            return (
                pw,
                ph,
                float(int(lum.sum())) / (pw * ph),
                int(lum.min()),
                int(lum.max()),
                float(int(tl.sum())) / tl.size,
            )

        for pdf in batches:
            stats = [decode_one(synth_one(int(d))) for d in pdf["doc_id"]]
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "width": [s[0] for s in stats],
                    "height": [s[1] for s in stats],
                    "lum_mean": [s[2] for s in stats],
                    "lum_min": [s[3] for s in stats],
                    "lum_max": [s[4] for s in stats],
                    "tl_mean": [s[5] for s in stats],
                }
            )

    return run


# The oracle never sees the BMP bytes: it recomputes the same stats from
# the pixel FORMULA over (x, y) ranges. A decoder bug (padding, row order,
# channel offset, header math) breaks the hash — the decode itself is
# what's being verified.
_BMP_ORACLE = f"""
WITH px AS (
  SELECT d.doc_id, x.range AS x, y.range AS y,
         (d.doc_id * 31 + x.range * 7 + y.range * 13) % 256 AS lum
  FROM documents d, range(0, {_BMP_W}) x, range(0, {_BMP_H}) y
)
SELECT doc_id,
       CAST({_BMP_W} AS BIGINT) AS width,
       CAST({_BMP_H} AS BIGINT) AS height,
       CAST(SUM(lum) AS DOUBLE) / ({_BMP_W} * {_BMP_H}) AS lum_mean,
       MIN(lum) AS lum_min,
       MAX(lum) AS lum_max,
       CAST(SUM(CASE WHEN x < {_BMP_W // 2} AND y < {_BMP_H // 2}
                     THEN lum END) AS DOUBLE)
         / ({(_BMP_W // 2) * (_BMP_H // 2)}) AS tl_mean
FROM px
GROUP BY doc_id
"""


@register("mm_real_decode_stats", oracle=_BMP_ORACLE, tags=("multimodal", "northstar"))
def mm_real_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END real image pipeline: synthesize genuine 24bpp BMP bytes
    per document (bottom-up rows, 4-byte padding), DECODE them for real
    (struct header parse + numpy pixel slicing — no PIL), reduce to
    luminance stats. Oracle-checked against the closed-form pixel formula,
    so a decoder bug (padding, row order, header offsets) fails the hash.

    Scale shape: synth+decode is ONE Arrow-batched map-only pass (r12:
    fused — the intermediate BMP payload never crosses the JVM boundary;
    fused == two-stage asserted in pytest), constant memory per task, no
    shuffle until the final (tiny) stats."""
    docs = load(spark, sf_dir, "documents")
    return docs.select("doc_id").mapInPandas(
        _make_bmp_pipeline(), schema=_BMP_STATS_SCHEMA
    )


# --- REAL decode → resize → aggregate (variable-dimension BMPs) ---------------
#
# Per-doc dimensions are deterministic, EVEN (so 2×2 block resize is exact),
# and variable enough to hit every padding class: w ∈ {8..54 even} gives
# row padding of 0/2 bytes alternating with width.

_VD_MAX_W, _VD_MAX_H = 54, 44


def _vd_dims(doc_id: int) -> tuple[int, int]:
    return 8 + 2 * ((doc_id * 7) % 24), 6 + 2 * ((doc_id * 11) % 20)


def _make_bmp_synth_vardim():
    """Pandas UDF factory: doc_id → real 24bpp BMP bytes with PER-DOC
    dimensions (w = 8+2·(7·id mod 24), h = 6+2·(11·id mod 20)) and the same
    gradient pixels lum(x,y) = (id·31 + 7x + 13y) mod 256. numpy-vectorized
    per image; bottom-up rows + 4-byte padding as the format requires.
    Self-contained closure (executor import rule)."""
    from pyspark.sql.functions import pandas_udf as _pudf

    def synth(doc_ids):
        import struct as _struct

        import numpy as _np
        import pandas as _pd

        def one(doc_id):
            w = 8 + 2 * ((doc_id * 7) % 24)
            h = 6 + 2 * ((doc_id * 11) % 20)
            row_bytes = (w * 3 + 3) // 4 * 4
            off = 14 + 40
            x = _np.arange(w)
            y = _np.arange(h)
            lum = ((doc_id * 31 + 7 * x[None, :] + 13 * y[:, None]) % 256).astype(
                _np.uint8
            )
            rows = _np.zeros((h, row_bytes), _np.uint8)
            rows[:, : w * 3] = _np.repeat(lum[:, :, None], 3, axis=2).reshape(
                h, w * 3
            )
            header = b"BM" + _struct.pack(
                "<IHHI", off + row_bytes * h, 0, 0, off
            )
            info = _struct.pack(
                "<IiiHHIIiiII", 40, w, h, 1, 24, 0, row_bytes * h, 2835, 2835, 0, 0
            )
            return header + info + rows[::-1].tobytes()  # bottom-up storage

        return _pd.Series([one(int(d)) for d in doc_ids])

    return _pudf(synth, "binary")


_RESIZE_SCHEMA = (
    "doc_id LONG, width LONG, height LONG, thumb_w LONG, thumb_h LONG, "
    "lum_sum LONG, tmin LONG, tmax LONG"
)


def _make_bmp_resize_decoder():
    """REAL decode + REAL resize as one mapInPandas closure: struct-parses
    the BMP headers, numpy-slices pixel rows (honoring per-width padding,
    flipping bottom-up order), then RESIZES by exact 2×2 block reduction —
    the thumbnail stats (min/max block sum) are genuine functions of the
    resized image that differ from the full-resolution stats."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct as _struct

        import numpy as _np
        import pandas as _pd

        def one(buf: bytes):
            assert buf[:2] == b"BM", "not a BMP"
            (off,) = _struct.unpack_from("<I", buf, 10)
            hdr_sz, w, h, _planes, bpp = _struct.unpack_from("<IiiHH", buf, 14)
            assert hdr_sz == 40 and bpp == 24, (hdr_sz, bpp)
            bottom_up = h > 0
            h = abs(h)
            row_bytes = (w * 3 + 3) // 4 * 4
            px = _np.frombuffer(buf, dtype=_np.uint8, count=row_bytes * h, offset=off)
            px = px.reshape(h, row_bytes)[:, : w * 3].reshape(h, w, 3)
            if bottom_up:
                px = px[::-1]
            lum = px[:, :, 0].astype(_np.int64)  # grayscale: B==G==R
            blocks = lum.reshape(h // 2, 2, w // 2, 2).sum(axis=(1, 3))
            return (
                w,
                h,
                w // 2,
                h // 2,
                int(lum.sum()),
                int(blocks.min()),
                int(blocks.max()),
            )

        for pdf in batches:
            stats = [one(bytes(b)) for b in pdf["payload"]]
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "width": [s[0] for s in stats],
                    "height": [s[1] for s in stats],
                    "thumb_w": [s[2] for s in stats],
                    "thumb_h": [s[3] for s in stats],
                    "lum_sum": [s[4] for s in stats],
                    "tmin": [s[5] for s in stats],
                    "tmax": [s[6] for s in stats],
                }
            )

    return decode


def _make_bmp_resize_pipeline():
    """FUSED synth→decode→resize mapInPandas factory (r12 optimization):
    one Python stage builds each doc's variable-dimension BMP bytes
    (identical to ``_make_bmp_synth_vardim`` — asserted in pytest) and
    decodes+resizes them through the same real path as
    ``_make_bmp_resize_decoder``. The intermediate payload (~1-7 KB/doc)
    never crosses the JVM boundary; the plan loses its
    ArrowEvalPython(synth) node (guide §4.1/§2.3).
    Self-contained closure (executor import rule)."""

    def run(batches):
        import struct as _struct

        import numpy as _np
        import pandas as _pd

        def synth_one(doc_id):
            w = 8 + 2 * ((doc_id * 7) % 24)
            h = 6 + 2 * ((doc_id * 11) % 20)
            row_bytes = (w * 3 + 3) // 4 * 4
            off = 14 + 40
            x = _np.arange(w)
            y = _np.arange(h)
            lum = ((doc_id * 31 + 7 * x[None, :] + 13 * y[:, None]) % 256).astype(
                _np.uint8
            )
            rows = _np.zeros((h, row_bytes), _np.uint8)
            rows[:, : w * 3] = _np.repeat(lum[:, :, None], 3, axis=2).reshape(
                h, w * 3
            )
            header = b"BM" + _struct.pack(
                "<IHHI", off + row_bytes * h, 0, 0, off
            )
            info = _struct.pack(
                "<IiiHHIIiiII", 40, w, h, 1, 24, 0, row_bytes * h, 2835, 2835, 0, 0
            )
            return header + info + rows[::-1].tobytes()  # bottom-up storage

        def decode_one(buf):
            assert buf[:2] == b"BM", "not a BMP"
            (off,) = _struct.unpack_from("<I", buf, 10)
            hdr_sz, w, h, _planes, bpp = _struct.unpack_from("<IiiHH", buf, 14)
            assert hdr_sz == 40 and bpp == 24, (hdr_sz, bpp)
            bottom_up = h > 0
            h = abs(h)
            row_bytes = (w * 3 + 3) // 4 * 4
            px = _np.frombuffer(buf, dtype=_np.uint8, count=row_bytes * h, offset=off)
            px = px.reshape(h, row_bytes)[:, : w * 3].reshape(h, w, 3)
            if bottom_up:
                px = px[::-1]
            lum = px[:, :, 0].astype(_np.int64)  # grayscale: B==G==R
            blocks = lum.reshape(h // 2, 2, w // 2, 2).sum(axis=(1, 3))
            return (
                w,
                h,
                w // 2,
                h // 2,
                int(lum.sum()),
                int(blocks.min()),
                int(blocks.max()),
            )

        for pdf in batches:
            stats = [decode_one(synth_one(int(d))) for d in pdf["doc_id"]]
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "width": [s[0] for s in stats],
                    "height": [s[1] for s in stats],
                    "thumb_w": [s[2] for s in stats],
                    "thumb_h": [s[3] for s in stats],
                    "lum_sum": [s[4] for s in stats],
                    "tmin": [s[5] for s in stats],
                    "tmax": [s[6] for s in stats],
                }
            )

    return run


# The oracle recomputes decode AND resize from the closed-form pixel
# formula — per-doc dims, 2×2 block sums, class rollup. A bug anywhere in
# the real path (header math, padding for the widths where w*3 % 4 != 0,
# row order, block reduction) breaks the hash. All aggregates integer →
# bit-stable. DuckDB's range() is not lateral-joinable, so the pixel grid
# is the max extent filtered down to each doc's true (w, h).
_RESIZE_ORACLE = f"""
WITH dims AS (
  SELECT doc_id,
         8 + 2 * ((doc_id * 7) % 24) AS w,
         6 + 2 * ((doc_id * 11) % 20) AS h
  FROM documents
),
px AS (
  SELECT d.doc_id, d.w, d.h, x.range AS x, y.range AS y,
         (d.doc_id * 31 + x.range * 7 + y.range * 13) % 256 AS lum
  FROM dims d, range(0, {_VD_MAX_W}) x, range(0, {_VD_MAX_H}) y
  WHERE x.range < d.w AND y.range < d.h
),
blocks AS (
  SELECT doc_id, w, h, x // 2 AS bx, y // 2 AS by, SUM(lum) AS bsum
  FROM px GROUP BY doc_id, w, h, x // 2, y // 2
),
per_doc AS (
  SELECT doc_id, w, h,
         SUM(bsum) AS lum_sum, MIN(bsum) AS tmin, MAX(bsum) AS tmax
  FROM blocks GROUP BY doc_id, w, h
)
SELECT CASE WHEN w <= 24 THEN 'small'
            WHEN w <= 40 THEN 'medium'
            ELSE 'large' END AS size_class,
       CAST(COUNT(*) AS BIGINT) AS n_images,
       CAST(SUM(w * h) AS BIGINT) AS total_px,
       CAST(SUM((w // 2) * (h // 2)) AS BIGINT) AS total_thumb_px,
       CAST(SUM(lum_sum) AS BIGINT) AS sum_lum,
       CAST(MIN(tmin) AS BIGINT) AS min_block_sum,
       CAST(MAX(tmax) AS BIGINT) AS max_block_sum
FROM per_doc
GROUP BY size_class
ORDER BY size_class
"""


@register("mm_decode_resize_stats", oracle=_RESIZE_ORACLE, tags=("multimodal", "northstar"))
def mm_decode_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode → resize → aggregate, ALL REAL (round-3 repair of the
    former PIL-gated stub — VERDICT r2 'What's wrong' #2): synthesize
    genuine 24bpp BMPs with per-doc dimensions, struct+numpy-decode them,
    downsample by exact 2×2 block reduction, bucket into thumbnail size
    classes, and aggregate per class. Oracle-checked end-to-end against
    the closed-form pixel formula — the decode AND the resize are what's
    verified, not just the plumbing.

    Scale shape: synth and decode+resize are Arrow-batched map-only passes
    (constant memory per task, zero shuffles); the only shuffle is the
    final 3-row class rollup, with map-side partial aggregation."""
    docs = load(spark, sf_dir, "documents")
    # ONE fused Python stage (r12): synth + decode + resize in a single
    # mapInPandas — the intermediate BMP payload never crosses the JVM
    # boundary (fused == two-stage asserted in pytest).
    decoded = docs.select("doc_id").mapInPandas(
        _make_bmp_resize_pipeline(), schema=_RESIZE_SCHEMA
    )
    size_class = (
        F.when(F.col("width") <= 24, "small")
        .when(F.col("width") <= 40, "medium")
        .otherwise("large")
    )
    return (
        decoded.withColumn("size_class", size_class)
        .groupBy("size_class")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.sum(F.col("width") * F.col("height")).alias("total_px"),
            F.sum(F.col("thumb_w") * F.col("thumb_h")).alias("total_thumb_px"),
            F.sum("lum_sum").alias("sum_lum"),
            F.min("tmin").alias("min_block_sum"),
            F.max("tmax").alias("max_block_sum"),
        )
        .orderBy("size_class")
    )


# --- REAL audio path: PCM synth → decode → windowed RMS ----------------------
#
# Same philosophy as the BMP pipeline: the container has no audio codec, so
# the engine synthesizes genuine PCM (the one audio "format" parseable from
# first principles — raw little-endian int16 frames), decodes it with
# numpy, and reduces to per-window loudness features. The oracle recomputes
# the same windows from the sample FORMULA, so a decode bug (endianness,
# width, window framing) fails the hash — not just plumbing bugs.

_AUDIO_WIN = 256  # samples per analysis window; n_samples is a multiple


def _make_pcm_synth():
    """Pandas UDF factory: doc_id → raw PCM bytes (little-endian int16).
    n_samples = 2048 + 256·(id mod 8); sample[i] = ((id·7919 + i·104729)
    mod 16001) − 8000. Self-contained closure (executor import rule)."""
    from pyspark.sql.functions import pandas_udf as _pudf

    def synth(doc_ids):
        import numpy as _np
        import pandas as _pd

        def one(doc_id):
            n = 2048 + 256 * (doc_id % 8)
            i = _np.arange(n, dtype=_np.int64)
            s = (doc_id * 7919 + i * 104729) % 16001 - 8000
            return s.astype("<i2").tobytes()

        return _pd.Series([one(int(d)) for d in doc_ids])

    return _pudf(synth, "binary")


_AUDIO_SCHEMA = (
    "doc_id long, window_idx long, rms_e3 long, peak long, n_samples long"
)


def _make_pcm_decoder():
    """mapInPandas factory: decode little-endian int16 PCM, frame into
    256-sample windows, emit exact integer loudness features. sum-of-squares
    is int64-exact; /256 is a power-of-two division (exact in doubles);
    sqrt is IEEE correctly-rounded — so rms_e3 is bit-identical to the
    oracle's closed form. Self-contained closure."""

    def decode(batches):
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            # one concatenated sample vector per Arrow batch; per-doc
            # window counts recover the (doc, window) row structure —
            # no per-row Python objects anywhere
            bufs = [
                _np.frombuffer(bytes(p), dtype="<i2").astype(_np.int64)
                for p in pdf["payload"]
            ]
            if not bufs:
                continue
            ns = _np.array([b.size for b in bufs])
            ks = ns // 256
            wins = _np.concatenate(bufs).reshape(-1, 256)
            sumsq = (wins * wins).sum(axis=1)
            yield _pd.DataFrame(
                {
                    "doc_id": _np.repeat(pdf["doc_id"].to_numpy(), ks),
                    "window_idx": _np.concatenate(
                        [_np.arange(k) for k in ks]
                    ),
                    "rms_e3": _np.round(
                        _np.sqrt(sumsq / 256.0) * 1000.0
                    ).astype(_np.int64),
                    "peak": _np.abs(wins).max(axis=1),
                    "n_samples": _np.repeat(ns, ks),
                }
            )

    return decode


def _make_pcm_pipeline():
    """FUSED synth→decode mapInPandas factory (r12 optimization): one
    Python stage synthesizes the genuine little-endian int16 PCM bytes for
    the whole Arrow batch, round-trips them through ``tobytes`` →
    ``frombuffer`` (the decode is still a real bytes→samples parse), and
    reduces to the same windowed features as ``_make_pcm_decoder``.

    Why fused (guide §4.1/§2.3): the two-stage form moved every payload
    JVM→Python (synth out), Python→JVM and JVM→Python again (decode in) —
    three Arrow serializations of ~6 KB/doc of audio bytes that exist only
    as an intermediate. Fusing drops the payload column from the plan
    entirely (only doc_id crosses the boundary) and removes the
    per-doc Python loop: the whole batch synthesizes as ONE vectorized
    numpy expression instead of 5k small allocations.
    pytest asserts fused == two-stage on the same corpus.
    Self-contained closure (executor import rule)."""

    def run(batches):
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            ids = pdf["doc_id"].to_numpy().astype(_np.int64)
            if ids.size == 0:
                continue
            ns = 2048 + 256 * (ids % 8)
            starts = _np.concatenate(([0], _np.cumsum(ns)[:-1]))
            total = int(ns.sum())
            i = _np.arange(total, dtype=_np.int64) - _np.repeat(starts, ns)
            did = _np.repeat(ids, ns)
            # REAL PCM bytes: same formula, same <i2 encoding as the
            # two-stage synth — then decoded back via frombuffer.
            pcm = ((did * 7919 + i * 104729) % 16001 - 8000).astype("<i2").tobytes()
            s = _np.frombuffer(pcm, dtype="<i2").astype(_np.int64)
            wins = s.reshape(-1, 256)
            sumsq = (wins * wins).sum(axis=1)
            ks = ns // 256
            wstarts = _np.concatenate(([0], _np.cumsum(ks)[:-1]))
            widx = _np.arange(int(ks.sum()), dtype=_np.int64) - _np.repeat(
                wstarts, ks
            )
            yield _pd.DataFrame(
                {
                    "doc_id": _np.repeat(ids, ks),
                    "window_idx": widx,
                    "rms_e3": _np.round(
                        _np.sqrt(sumsq / 256.0) * 1000.0
                    ).astype(_np.int64),
                    "peak": _np.abs(wins).max(axis=1),
                    "n_samples": _np.repeat(ns, ks),
                }
            )

    return run


_AUDIO_ORACLE = """
WITH samp AS (
  SELECT d.doc_id,
         2048 + 256 * (d.doc_id % 8) AS n_samples,
         i.range AS i,
         (d.doc_id * 7919 + i.range * 104729) % 16001 - 8000 AS s
  FROM documents d, range(0, 4096) i
  WHERE i.range < 2048 + 256 * (d.doc_id % 8)
)
SELECT doc_id, i // 256 AS window_idx,
       CAST(ROUND(SQRT(CAST(SUM(s * s) AS DOUBLE) / 256.0) * 1000.0, 0)
            AS BIGINT) AS rms_e3,
       MAX(ABS(s)) AS peak,
       ANY_VALUE(n_samples) AS n_samples
FROM samp
GROUP BY doc_id, i // 256
ORDER BY doc_id, window_idx
"""


@register("mm_audio_rms_windows", oracle=_AUDIO_ORACLE, tags=("multimodal",))
def mm_audio_rms_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END real audio pipeline: synthesize genuine PCM int16 bytes
    per document, DECODE them (numpy frombuffer + window framing), reduce
    to per-window RMS/peak. Oracle-checked against the closed-form sample
    formula. Both synth and decode are Arrow-batched map-only passes —
    the frame-sample/feature-extract shape for 100 TB media, where the
    binary column would hold object-store pointers instead of inline
    payloads."""
    # repartition by doc_id BEFORE the Python stages: the testdata is one
    # parquet file (one partition), so without the spread the whole
    # synth+decode chain would run on a single core. At 100 TB this is the
    # standard "spread the expensive decode" repartition.
    # PINNED partition count (round 11): repartition(col) alone compiles
    # to shuffle origin REPARTITION_BY_COL, which AQE's partition
    # coalescing is allowed to shrink — and does, folding this tiny
    # exchange back to ONE partition (observed (0+1)/1 stages), silently
    # re-serializing the decode. repartition(n, col) is
    # REPARTITION_BY_NUM, which AQE must respect; defaultParallelism
    # scales it to the session's cores here and to the cluster on a real
    # deployment. The shuffled rows are just pruned doc_ids — the
    # payloads are synthesized AFTER the exchange — so the spread costs
    # O(ids), never O(media bytes), at any scale.
    docs = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, F.col("doc_id")
    )
    # NO global sort on purpose: orderBy's range-sampling pass executes its
    # child once just to pick partition bounds, and with no shuffle between
    # decode and sort that ran synth+decode TWICE (measured 1.6× at sf0.1).
    # The output is a feature table — consumers sort if they need order,
    # and the driver's hash compare is order-insensitive.
    #
    # ONE fused Python stage (r12): synth + decode in a single mapInPandas
    # — the intermediate PCM payload never crosses the JVM boundary, and
    # the plan's ArrowEvalPython(synth) node disappears (see
    # _make_pcm_pipeline; fused == two-stage asserted in pytest).
    return docs.select("doc_id").mapInPandas(
        _make_pcm_pipeline(), schema=_AUDIO_SCHEMA
    )


# --- REAL video path: container synth → frame-sample → decode ----------------
#
# Video completes the image/audio triad. The container has no video codec,
# so the payload is a minimal deterministic container parseable from first
# principles: a 12-byte header (frame_count, width, height — little-endian
# uint32) followed by raw RGB24 frames. Frame SAMPLING (every 2nd frame)
# happens on the byte ranges — the decoder never materializes skipped
# frames, which is the point of frame-sampling at 100 TB: decode cost
# scales with frames KEPT, not frames stored.

_VID_W, _VID_H, _VID_STRIDE = 16, 12, 2


def _make_video_synth():
    """Pandas UDF factory: doc_id → container bytes. n_frames = 4 +
    (id mod 5); pixel lum(f, x, y) = (id·31 + 17f + 7x + 13y) mod 256,
    replicated over RGB. Self-contained closure (executor import rule)."""
    from pyspark.sql.functions import pandas_udf as _pudf

    def synth(doc_ids):
        import struct as _struct

        import numpy as _np
        import pandas as _pd

        def one(doc_id):
            n_frames = 4 + (doc_id % 5)
            f = _np.arange(n_frames)[:, None, None]
            y = _np.arange(_VID_H)[None, :, None]
            x = _np.arange(_VID_W)[None, None, :]
            lum = ((doc_id * 31 + 17 * f + 7 * x + 13 * y) % 256).astype(_np.uint8)
            frames = _np.repeat(lum[:, :, :, None], 3, axis=3)
            return (
                _struct.pack("<III", n_frames, _VID_W, _VID_H)
                + frames.tobytes()
            )

        return _pd.Series([one(int(d)) for d in doc_ids])

    return _pudf(synth, "binary")


_VID_SCHEMA = "doc_id long, frame_idx long, n_frames long, lum_mean double, lum_min long, lum_max long"


def _make_video_decoder():
    """mapInPandas factory: parse the header, then decode ONLY every
    2nd frame by slicing its byte range (skipped frames are never
    touched). Per-frame luminance stats are exact integer arithmetic over
    one channel (channels are replicated). Self-contained closure."""

    def decode(batches):
        import struct as _struct

        import numpy as _np
        import pandas as _pd

        cols = ("doc_id", "frame_idx", "n_frames", "lum_mean", "lum_min", "lum_max")
        out = {k: [] for k in cols}
        for pdf in batches:
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                n_frames, w, h = _struct.unpack_from("<III", b, 0)
                fsize = w * h * 3
                for fi in range(0, n_frames, 2):
                    off = 12 + fi * fsize
                    lum = _np.frombuffer(b, _np.uint8, count=fsize, offset=off)[
                        ::3
                    ].astype(_np.int64)
                    out["doc_id"].append(int(doc_id))
                    out["frame_idx"].append(fi)
                    out["n_frames"].append(int(n_frames))
                    out["lum_mean"].append(float(int(lum.sum())) / (w * h))
                    out["lum_min"].append(int(lum.min()))
                    out["lum_max"].append(int(lum.max()))
            yield _pd.DataFrame(out)
            out = {k: [] for k in cols}

    return decode


def _make_video_pipeline():
    """FUSED synth→sample→decode mapInPandas factory (r12 optimization):
    one Python stage builds each doc's raw-RGB24 container bytes
    (identical to ``_make_video_synth`` — asserted in pytest) and
    frame-samples + decodes them through the same byte-range-slicing path
    as ``_make_video_decoder``. The ~2-5 KB/doc container payload never
    crosses the JVM boundary (guide §4.1/§2.3).
    Self-contained closure (executor import rule)."""

    def run(batches):
        import struct as _struct

        import numpy as _np
        import pandas as _pd

        vw, vh, stride = _VID_W, _VID_H, _VID_STRIDE

        def synth_one(doc_id):
            n_frames = 4 + (doc_id % 5)
            f = _np.arange(n_frames)[:, None, None]
            y = _np.arange(vh)[None, :, None]
            x = _np.arange(vw)[None, None, :]
            lum = ((doc_id * 31 + 17 * f + 7 * x + 13 * y) % 256).astype(_np.uint8)
            frames = _np.repeat(lum[:, :, :, None], 3, axis=3)
            return (
                _struct.pack("<III", n_frames, vw, vh) + frames.tobytes()
            )

        cols = ("doc_id", "frame_idx", "n_frames", "lum_mean", "lum_min", "lum_max")

        for pdf in batches:
            out = {k: [] for k in cols}
            for doc_id in pdf["doc_id"]:
                b = synth_one(int(doc_id))
                n_frames, w, h = _struct.unpack_from("<III", b, 0)
                fsize = w * h * 3
                for fi in range(0, n_frames, stride):
                    off = 12 + fi * fsize
                    lum = _np.frombuffer(b, _np.uint8, count=fsize, offset=off)[
                        ::3
                    ].astype(_np.int64)
                    out["doc_id"].append(int(doc_id))
                    out["frame_idx"].append(fi)
                    out["n_frames"].append(int(n_frames))
                    out["lum_mean"].append(float(int(lum.sum())) / (w * h))
                    out["lum_min"].append(int(lum.min()))
                    out["lum_max"].append(int(lum.max()))
            yield _pd.DataFrame(out)

    return run


_VIDEO_ORACLE = f"""
WITH px AS (
  SELECT d.doc_id, f.range AS frame_idx, 4 + (d.doc_id % 5) AS n_frames,
         x.range AS x, y.range AS y,
         (d.doc_id * 31 + 17 * f.range + 7 * x.range + 13 * y.range) % 256 AS lum
  FROM documents d, range(0, 9) f, range(0, {_VID_W}) x, range(0, {_VID_H}) y
  WHERE f.range < 4 + (d.doc_id % 5) AND f.range % {_VID_STRIDE} = 0
)
SELECT doc_id, frame_idx, ANY_VALUE(n_frames) AS n_frames,
       CAST(SUM(lum) AS DOUBLE) / ({_VID_W} * {_VID_H}) AS lum_mean,
       MIN(lum) AS lum_min,
       MAX(lum) AS lum_max
FROM px
GROUP BY doc_id, frame_idx
ORDER BY doc_id, frame_idx
"""


@register("mm_video_frame_sample", oracle=_VIDEO_ORACLE, tags=("multimodal",))
def mm_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END video pipeline: synthesize a raw-RGB24 container per
    document, FRAME-SAMPLE every 2nd frame by byte-range slicing (skipped
    frames never decoded — decode cost follows frames kept, not stored),
    reduce each sampled frame to luminance stats. Oracle-checked against
    the closed-form pixel formula restricted to the sampled frames, so a
    sampling bug (stride, offset math) fails the hash, not just a decode
    bug."""
    # same spread-the-decode repartition as mm_audio_rms_windows: one input
    # partition + orderBy's sampling pass would otherwise run the Python
    # chain twice on one core (pinned count for the same AQE
    # REPARTITION_BY_COL-coalescing reason — see mm_audio_rms_windows)
    docs = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, F.col("doc_id")
    )
    # same no-global-sort rationale as mm_audio_rms_windows: orderBy's
    # range sampling would re-run the synth+decode chain for nothing.
    # ONE fused Python stage (r12): synth + sample + decode in a single
    # mapInPandas — the container payload never crosses the JVM boundary
    # (fused == two-stage asserted in pytest).
    return docs.select("doc_id").mapInPandas(
        _make_video_pipeline(), schema=_VID_SCHEMA
    )


# --- Perceptual-hash image near-dup (r11 VERDICT #5) ---------------------------
#
# The multimodal family had decode + features but no DEDUP member, while text
# has seven. This closes that gap with the classic image pipeline: decode →
# 64-bit aHash (8×8 block means thresholded at the image mean) → Hamming-banded
# candidate blocking (4 bands × 16 bits; the LSH band-key pattern from
# fuzzy_dedup._lsh_candidates, never all-pairs) → exact Hamming verify in
# integer bit ops. Banding is LOSSLESS at radius ≤ bands-1 by pigeonhole: a
# pair within Hamming distance 3 differs in at most 3 of the 4 bands, so at
# least one band value matches exactly and the equi-join emits the pair
# (tests assert this against a brute-force sweep).
#
# The synthesized corpus makes the dedup REAL: each doc renders its group's
# 64-bit base pattern (group = doc_id mod 200) as an 8×8 block image, with
# 2/3 of docs flipping exactly one pattern bit — so same-group images sit at
# Hamming distance ≤ 2 (within radius) while cross-group distances measure
# ≥ 11. The oracle recomputes the hash from the closed-form bit formula and
# brute-forces pairs, so a decoder bug that scrambles blocks breaks the hash.
#
# Scale shape: hashes are one tiny row per image (5 longs), built in one
# Arrow-batched map-only decode pass; candidates come from 4 equi-joins on
# 16-bit band values; verify touches candidates only. At 100 TB the hash
# table is the standing index a dedup service maintains (the from-index
# pattern of text_index.py applies verbatim), and the band width widens with
# corpus diversity (e.g. a 256-bit pHash in 8×32 bands) to keep band-bucket
# cardinality bounded. Output is verified PAIRS — quadratic in clone-group
# size by contract, like dedup_minhash_lsh; clone-heavy corpora compose the
# group-emitting form (dedup_components / dedup_minhash_groups pattern) on
# top of the same banded candidates.

_PH_W = _PH_H = 16  # 8×8 blocks of 2×2 px
_PH_GROUPS = 200
_PH_BANDS = 4  # 4 × 16-bit bands
_PH_RADIUS = _PH_BANDS - 1  # banding is lossless exactly up to bands-1


def _phash_bits(doc_id: int) -> list[int]:
    """Closed-form 64-bit pattern a doc's image encodes (reference copy for
    pytest + oracle derivation; the synth closure inlines the same formula
    per the executor-import rule, and tests assert decode(synth(id)) equals
    this). Bits 0/63 are pinned to 0/1 so the popcount stays in (0, 64) and
    the aHash mean threshold always separates bright from background."""
    g = doc_id % _PH_GROUPS
    bits = []
    for j in range(64):
        if j == 0:
            b = 0
        elif j == 63:
            b = 1
        else:
            b = ((g + 1) * ((j * j * 7919 + j * 104729 + 15485863) % 1000003)) % 1000003 % 2
        bits.append(b)
    if doc_id % 3 > 0:
        bits[(doc_id * 7919) % 62 + 1] ^= 1
    return bits


def _make_phash_bmp_synth():
    """Pandas UDF factory: doc_id → real 24bpp BMP (16×16, bottom-up rows)
    rendering the doc's 64-bit pattern as 8×8 blocks of 2×2 px — bright
    blocks at 255, background at (doc_id mod 23) so the background varies
    per doc but always sits below the aHash mean. Self-contained closure
    (executor import rule)."""
    from pyspark.sql.functions import pandas_udf as _pudf

    w = h = _PH_W
    groups = _PH_GROUPS

    def synth(doc_ids):
        import struct as _struct

        import pandas as _pd

        row_bytes = (w * 3 + 3) // 4 * 4
        img_size = row_bytes * h
        off = 14 + 40

        def one(doc_id):
            g = doc_id % groups
            bits = []
            for j in range(64):
                if j == 0:
                    b = 0
                elif j == 63:
                    b = 1
                else:
                    b = ((g + 1) * ((j * j * 7919 + j * 104729 + 15485863) % 1000003)) % 1000003 % 2
                bits.append(b)
            if doc_id % 3 > 0:
                bits[(doc_id * 7919) % 62 + 1] ^= 1
            bg = doc_id % 23
            header = b"BM" + _struct.pack("<IHHI", off + img_size, 0, 0, off)
            info = _struct.pack(
                "<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0
            )
            out = [header, info]
            for yy in range(h):  # bottom-up storage
                y = h - 1 - yy
                row = bytearray()
                for x in range(w):
                    lum = 255 if bits[(y // 2) * 8 + (x // 2)] else bg
                    row += bytes((lum, lum, lum))
                row += b"\x00" * (row_bytes - len(row))
                out.append(bytes(row))
            return b"".join(out)

        return _pd.Series([one(int(d)) for d in doc_ids])

    return _pudf(synth, "binary")


_PH_SCHEMA = "doc_id LONG, h0 LONG, h1 LONG, h2 LONG, h3 LONG"


def _make_phash_decoder():
    """mapInPandas factory: REAL decode (BMP header parse, numpy pixel
    slicing, bottom-up flip) → 2×2 block means → aHash bits (block mean >
    image mean) → four 16-bit band values. The hash is stored banded
    (h0..h3) instead of one 64-bit word: the bands ARE the LSH keys, and
    small ints sidestep every cross-engine 2^63 sign/overflow trap."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct as _struct

        import numpy as _np
        import pandas as _pd

        def one(buf: bytes):
            assert buf[:2] == b"BM", "not a BMP"
            (off,) = _struct.unpack_from("<I", buf, 10)
            hdr_sz, w, h, _planes, bpp = _struct.unpack_from("<IiiHH", buf, 14)
            assert hdr_sz == 40 and bpp == 24, (hdr_sz, bpp)
            bottom_up = h > 0
            h = abs(h)
            row_bytes = (w * 3 + 3) // 4 * 4
            px = _np.frombuffer(buf, dtype=_np.uint8, count=row_bytes * h, offset=off)
            px = px.reshape(h, row_bytes)[:, : w * 3].reshape(h, w, 3)
            if bottom_up:
                px = px[::-1]
            lum = px[:, :, 0].astype(_np.int64)
            # exact arithmetic: 2×2 block sums vs 4·(image sum)/256 — both
            # integers (256 divides 4·sum scaling), so the threshold compare
            # is integer-exact, no float mean involved
            blocks = lum.reshape(8, 2, 8, 2).sum(axis=(1, 3))  # [by, bx]
            bits = (blocks * 64 > lum.sum()).astype(_np.int64).reshape(64)
            return [
                int(sum(int(bits[16 * b + i]) << i for i in range(16)))
                for b in range(4)
            ]

        for pdf in batches:
            hs = [one(bytes(b)) for b in pdf["payload"]]
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "h0": [v[0] for v in hs],
                    "h1": [v[1] for v in hs],
                    "h2": [v[2] for v in hs],
                    "h3": [v[3] for v in hs],
                }
            )

    return decode


def _make_phash_fused_synth_one():
    """The fused phash pipeline's per-doc synth body, exposed as a
    module-level factory so the pytest byte-identity assertion runs
    against the EXACT closure the executors run (same rationale as
    ``_make_bmp_fused_synth_one``)."""
    import struct as _struct

    import numpy as _np

    w = h = _PH_W
    groups = _PH_GROUPS
    row_bytes = (w * 3 + 3) // 4 * 4
    img_size = row_bytes * h
    off = 14 + 40
    header = b"BM" + _struct.pack("<IHHI", off + img_size, 0, 0, off)
    info = _struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0
    )
    # per-bit base term depends only on j — computed once
    j = _np.arange(64, dtype=_np.int64)
    base = (j * j * 7919 + j * 104729 + 15485863) % 1000003

    def synth_one(doc_id):
        g = doc_id % groups
        bits = ((g + 1) * base) % 1000003 % 2
        bits[0] = 0
        bits[63] = 1
        if doc_id % 3 > 0:
            bits[(doc_id * 7919) % 62 + 1] ^= 1
        bg = doc_id % 23
        lum = _np.where(
            _np.repeat(_np.repeat(bits.reshape(8, 8), 2, axis=0), 2, axis=1)
            > 0,
            255,
            bg,
        ).astype(_np.uint8)
        rows = _np.zeros((h, row_bytes), _np.uint8)
        rows[:, : w * 3] = _np.repeat(lum[:, :, None], 3, axis=2).reshape(
            h, w * 3
        )
        return header + info + rows[::-1].tobytes()  # bottom-up storage

    return synth_one


def _make_phash_pipeline():
    """FUSED synth→decode→aHash mapInPandas factory (r12 optimization):
    one Python stage renders each doc's genuine 16×16 BMP bytes
    (byte-identical to ``_make_phash_bmp_synth`` — asserted in pytest) and
    decodes+hashes them through the same real path as
    ``_make_phash_decoder``. The ~800 B/doc payload never crosses the JVM
    boundary, and the per-PIXEL Python render loop (256 iterations/doc)
    becomes one vectorized numpy expression (guide §4.1/§4.2).
    Self-contained closure (executor import rule): ``synth_one`` is built
    once on the driver and captured by value."""

    synth_one = _make_phash_fused_synth_one()

    def run(batches):
        import struct as _struct

        import numpy as _np
        import pandas as _pd

        wpow = 1 << _np.arange(16, dtype=_np.int64)

        def decode_one(buf):
            assert buf[:2] == b"BM", "not a BMP"
            (poff,) = _struct.unpack_from("<I", buf, 10)
            hdr_sz, pw, ph, _planes, bpp = _struct.unpack_from("<IiiHH", buf, 14)
            assert hdr_sz == 40 and bpp == 24, (hdr_sz, bpp)
            bottom_up = ph > 0
            ph = abs(ph)
            prow_bytes = (pw * 3 + 3) // 4 * 4
            px = _np.frombuffer(
                buf, dtype=_np.uint8, count=prow_bytes * ph, offset=poff
            )
            px = px.reshape(ph, prow_bytes)[:, : pw * 3].reshape(ph, pw, 3)
            if bottom_up:
                px = px[::-1]
            lum = px[:, :, 0].astype(_np.int64)
            # exact arithmetic: 2×2 block sums vs 4·(image sum)/256 — both
            # integers, so the threshold compare is integer-exact
            blocks = lum.reshape(8, 2, 8, 2).sum(axis=(1, 3))  # [by, bx]
            bits = (blocks * 64 > lum.sum()).astype(_np.int64).reshape(64)
            return [int(v) for v in bits.reshape(4, 16) @ wpow]

        for pdf in batches:
            hs = [decode_one(synth_one(int(d))) for d in pdf["doc_id"]]
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "h0": [v[0] for v in hs],
                    "h1": [v[1] for v in hs],
                    "h2": [v[2] for v in hs],
                    "h3": [v[3] for v in hs],
                }
            )

    return run


def phash_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, h0..h3): synthesize the per-doc BMP, decode it for real,
    aHash it — one Arrow-batched map-only pass. localCheckpoint keeps the
    four downstream references (two band-join sides, two verify joins) from
    re-running the Python decode; the rows are 5 longs per image, so the
    checkpoint is control-plane-sized at any corpus scale."""
    docs = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, F.col("doc_id")
    )
    # ONE fused Python stage (r12): synth + decode + aHash in a single
    # mapInPandas — the BMP payload never crosses the JVM boundary
    # (fused == two-stage asserted in pytest).
    return materialize(
        docs.select("doc_id").mapInPandas(
            _make_phash_pipeline(), schema=_PH_SCHEMA
        ),
        eager=False,
        storage=None,
    )


def _phash_band_keys(hashes: DataFrame) -> DataFrame:
    """(doc_id, band_no, band_key) — the banded-hash LSH index rows."""
    return hashes.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_no"), F.col(f"h{b}").alias("band_key")
                    )
                    for b in range(_PH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band_no", "bk.band_key")


def _phash_hamming(a_prefix: str, b_prefix: str):
    return sum(
        F.bit_count(
            F.col(f"{a_prefix}{b}").bitwiseXOR(F.col(f"{b_prefix}{b}"))
        )
        for b in range(_PH_BANDS)
    )


_PHASH_ORACLE = f"""
WITH base AS (
  SELECT d.doc_id, j.range AS j,
         CASE WHEN j.range = 0 THEN 0
              WHEN j.range = 63 THEN 1
              ELSE ((((d.doc_id % {_PH_GROUPS}) + 1)
                     * ((j.range*j.range*7919 + j.range*104729 + 15485863) % 1000003))
                    % 1000003) % 2 END AS b
  FROM documents d, range(0, 64) j
), bits AS (
  SELECT doc_id, j,
         CASE WHEN doc_id % 3 > 0 AND j = (doc_id * 7919) % 62 + 1
              THEN 1 - b ELSE b END AS bit
  FROM base
), h AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN j // 16 = 0 THEN bit * (1::BIGINT << CAST(j % 16 AS INTEGER)) ELSE 0 END) AS BIGINT) AS h0,
         CAST(SUM(CASE WHEN j // 16 = 1 THEN bit * (1::BIGINT << CAST(j % 16 AS INTEGER)) ELSE 0 END) AS BIGINT) AS h1,
         CAST(SUM(CASE WHEN j // 16 = 2 THEN bit * (1::BIGINT << CAST(j % 16 AS INTEGER)) ELSE 0 END) AS BIGINT) AS h2,
         CAST(SUM(CASE WHEN j // 16 = 3 THEN bit * (1::BIGINT << CAST(j % 16 AS INTEGER)) ELSE 0 END) AS BIGINT) AS h3
  FROM bits GROUP BY doc_id
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.h0, b.h0)) + bit_count(xor(a.h1, b.h1))
          + bit_count(xor(a.h2, b.h2)) + bit_count(xor(a.h3, b.h3)) AS BIGINT) AS dist
FROM h a JOIN h b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.h0, b.h0)) + bit_count(xor(a.h1, b.h1))
    + bit_count(xor(a.h2, b.h2)) + bit_count(xor(a.h3, b.h3)) <= {_PH_RADIUS}
"""


@register("mm_phash_dedup", oracle=_PHASH_ORACLE, tags=("multimodal", "dedup"))
def mm_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash IMAGE near-dup: real BMP decode → 64-bit aHash →
    Hamming-banded candidate blocking (4 equi-joins on 16-bit band values,
    never all-pairs) → exact Hamming verify (bit_count(xor) over the four
    bands) at radius 3, where banding is provably lossless (pigeonhole:
    ≤ 3 differing bits leave ≥ 1 of 4 bands identical). The oracle
    recomputes the hash from the closed-form pattern formula and
    brute-forces all pairs — so the banded Spark plan must find EXACTLY
    the brute-force pair set, and any decode/banding bug fails the hash.
    Output: (doc_a, doc_b, dist) verified near-dup pairs."""
    hashes = phash_hashes(spark, sf_dir)
    bk = _phash_band_keys(hashes)
    a, b = bk.alias("a"), bk.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_no") == F.col("b.band_no"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    ha = hashes.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{i}").alias(f"a{i}") for i in range(_PH_BANDS)],
    )
    hb = hashes.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{i}").alias(f"b{i}") for i in range(_PH_BANDS)],
    )
    return (
        cand.join(ha, "doc_a")
        .join(hb, "doc_b")
        .withColumn("dist", _phash_hamming("a", "b").cast("long"))
        .filter(F.col("dist") <= _PH_RADIUS)
        .select("doc_a", "doc_b", "dist")
    )


# --- Linear-output production twin: group assignment, not pairs ----------------
#
# mm_phash_dedup emits verified PAIRS — quadratic in clone-group size by
# contract (a corpus where 2500 docs share a pattern emits ~3M pairs per
# group). The production form a 100 TB dedup service runs is ASSIGNMENT:
# one row per document naming its near-dup group representative. The r8
# verbatim-collapse argument applies exactly: identical hash ⇒ identical
# distances to everything, so collapse docs to DISTINCT-HASH classes
# (class rep = min doc_id), run the banded pairing over class reps only
# (bounded by hash diversity, not corpus size — clone mass multiplies
# NEITHER join side), take each class's min neighbor rep, and broadcast
# the class→group map back over the docs in one map-side join. Banding
# has no frequency cap here, so the collapse is EXACT (the capped-graph
# caveat from dedup_components does not apply).

_PHASH_GROUPS_ORACLE = f"""
WITH base AS (
  SELECT d.doc_id, j.range AS j,
         CASE WHEN j.range = 0 THEN 0
              WHEN j.range = 63 THEN 1
              ELSE ((((d.doc_id % {_PH_GROUPS}) + 1)
                     * ((j.range*j.range*7919 + j.range*104729 + 15485863) % 1000003))
                    % 1000003) % 2 END AS b
  FROM documents d, range(0, 64) j
), bits AS (
  SELECT doc_id, j,
         CASE WHEN doc_id % 3 > 0 AND j = (doc_id * 7919) % 62 + 1
              THEN 1 - b ELSE b END AS bit
  FROM base
), h AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN j // 16 = 0 THEN bit * (1::BIGINT << CAST(j % 16 AS INTEGER)) ELSE 0 END) AS BIGINT) AS h0,
         CAST(SUM(CASE WHEN j // 16 = 1 THEN bit * (1::BIGINT << CAST(j % 16 AS INTEGER)) ELSE 0 END) AS BIGINT) AS h1,
         CAST(SUM(CASE WHEN j // 16 = 2 THEN bit * (1::BIGINT << CAST(j % 16 AS INTEGER)) ELSE 0 END) AS BIGINT) AS h2,
         CAST(SUM(CASE WHEN j // 16 = 3 THEN bit * (1::BIGINT << CAST(j % 16 AS INTEGER)) ELSE 0 END) AS BIGINT) AS h3
  FROM bits GROUP BY doc_id
)
SELECT b.doc_id, CAST(MIN(a.doc_id) AS BIGINT) AS group_rep
FROM h a JOIN h b
  ON bit_count(xor(a.h0, b.h0)) + bit_count(xor(a.h1, b.h1))
   + bit_count(xor(a.h2, b.h2)) + bit_count(xor(a.h3, b.h3)) <= {_PH_RADIUS}
GROUP BY b.doc_id
"""


@register(
    "mm_phash_groups",
    oracle=_PHASH_GROUPS_ORACLE,
    tags=("multimodal", "dedup", "production"),
)
def mm_phash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-output image near-dup ASSIGNMENT: every document gets the
    lowest doc_id within Hamming radius 3 of its perceptual hash
    (including itself) as its group representative — mm_phash_dedup's
    production twin, the dedup_minhash_groups pattern applied to images.

    Pipeline: decode→hash (one map pass) → collapse to distinct-hash
    CLASSES (class rep = min doc_id; exact, since identical hashes have
    identical distances) → banded candidate pairing over class reps only
    (both orientations, so each class sees every neighbor) → exact
    Hamming verify → per-class min neighbor rep → broadcast the
    class→group map back onto docs. The pairing input is bounded by hash
    DIVERSITY, not corpus size: clone-heavy corpora grow the class
    member counts, never the join sides, and the output is exactly one
    row per document at any scale.

    The oracle brute-forces min-over-neighbors per doc; equivalence to
    the class-level min holds because a class's doc set shares one hash,
    so min over neighbor docs == min over neighbor classes' reps."""
    hashes = phash_hashes(spark, sf_dir)
    hcols = [f"h{b}" for b in range(_PH_BANDS)]
    classes = materialize(
        hashes.groupBy(*hcols)
        .agg(F.min("doc_id").alias("class_rep")),
        eager=False,
        storage=None,
    )
    bk = _phash_band_keys(classes.withColumnRenamed("class_rep", "doc_id"))
    a, b = bk.alias("a"), bk.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_no") == F.col("b.band_no"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("rep_x"), F.col("b.doc_id").alias("rep_y"))
        .distinct()
    )
    hx = classes.select(
        F.col("class_rep").alias("rep_x"),
        *[F.col(f"h{i}").alias(f"a{i}") for i in range(_PH_BANDS)],
    )
    hy = classes.select(
        F.col("class_rep").alias("rep_y"),
        *[F.col(f"h{i}").alias(f"b{i}") for i in range(_PH_BANDS)],
    )
    neighbor_min = (
        cand.join(hx, "rep_x")
        .join(hy, "rep_y")
        .filter(_phash_hamming("a", "b") <= _PH_RADIUS)
        .groupBy(F.col("rep_y").alias("class_rep"))
        .agg(F.min("rep_x").alias("nbr_min"))
    )
    class_groups = classes.join(neighbor_min, "class_rep", "left").select(
        *hcols,
        F.least(
            F.col("class_rep"), F.coalesce(F.col("nbr_min"), F.col("class_rep"))
        ).alias("group_rep"),
    )
    return hashes.join(F.broadcast(class_groups), hcols).select(
        "doc_id", "group_rep"
    )


# --- Persisted phash index + batch assignment (index lifecycle) ----------------
#
# Completes the image-dedup lifecycle the text family already has
# (text_index.refresh_lsh_index / dedup_assign_from_index): the distinct-
# hash CLASS table is the standing index a 100 TB image-dedup service
# maintains on the ingest cadence, and an arriving batch decodes ONLY
# itself and band-joins against the table — the corpus is never re-decoded
# at assignment time. Same scratch-path freshness/locking/pruning contract
# as the text twins.


def _phash_hashes_of(docs: DataFrame) -> DataFrame:
    """(doc_id, h0..h3) for any frame carrying ``doc_id``: spread the
    Python stage (pinned partition count — AQE REPARTITION_BY_COL
    coalescing hazard, see mm_audio_rms_windows), synthesize the BMP,
    decode + aHash it. One Arrow-batched map-only pass."""
    spread = docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism, F.col("doc_id")
    )
    # ONE fused Python stage (r12): synth + decode + aHash in a single
    # mapInPandas — the BMP payload never crosses the JVM boundary.
    return spread.select("doc_id").mapInPandas(
        _make_phash_pipeline(), schema=_PH_SCHEMA
    )


def refresh_phash_index(
    spark: SparkSession, docs: DataFrame, index_path: str, force: bool = False
) -> bool:
    """Build or refresh the persisted phash-class index for ``docs`` (any
    (doc_id, ...) frame): one decode pass collapsed to DISTINCT-HASH
    classes (h0..h3, class_rep = min doc_id) — O(hash diversity) rows at
    any corpus size. Freshness-gated on the recorded doc count (the cheap
    column-pruned probe; the decode never runs when current). Returns
    True when a rebuild ran."""
    from .text_index import _p

    n_docs = docs.count()
    if not force:
        try:
            rec = (
                spark.read.parquet(_p(index_path, "meta"))
                .select("n_docs")
                .collect()
            )
            if rec and rec[0][0] == n_docs:
                return False
        except Exception:  # noqa: BLE001 — first build: no index yet
            pass
    hcols = [f"h{b}" for b in range(_PH_BANDS)]
    (
        _phash_hashes_of(docs.select("doc_id"))
        .groupBy(*hcols)
        .agg(F.min("doc_id").alias("class_rep"))
        .write.mode("overwrite")
        .parquet(_p(index_path, "classes"))
    )
    local_frame(spark, [(n_docs,)], "n_docs long").write.mode("overwrite").parquet(
        _p(index_path, "meta")
    )
    return True


def assign_from_phash_index(
    spark: SparkSession, index_path: str, new_docs: DataFrame
) -> DataFrame:
    """Assign a batch of images to near-dup groups against the PERSISTED
    class index: decode the batch only, band-join its hashes against the
    class table's band keys, exact-Hamming verify, and emit one row per
    batch doc — (doc_id, group_rep) where group_rep is the lowest doc_id
    among itself and all indexed docs within radius (min over neighbor
    CLASS REPS equals min over neighbor docs, since a class's docs share
    one hash). Per-batch cost is O(batch + collisions)."""
    from .text_index import _p

    classes = spark.read.parquet(_p(index_path, "classes"))
    nh = materialize(_phash_hashes_of(new_docs), eager=False, storage=None)
    bkn = _phash_band_keys(nh)
    bkb = _phash_band_keys(classes.withColumnRenamed("class_rep", "doc_id"))
    cand = (
        bkn.alias("n")
        .join(
            bkb.alias("b"),
            (F.col("n.band_no") == F.col("b.band_no"))
            & (F.col("n.band_key") == F.col("b.band_key")),
        )
        .select(F.col("n.doc_id").alias("doc_id"), F.col("b.doc_id").alias("rep"))
        .distinct()
    )
    hn = nh.select(
        "doc_id", *[F.col(f"h{i}").alias(f"a{i}") for i in range(_PH_BANDS)]
    )
    hb = classes.select(
        F.col("class_rep").alias("rep"),
        *[F.col(f"h{i}").alias(f"b{i}") for i in range(_PH_BANDS)],
    )
    nbr = (
        cand.join(hn, "doc_id")
        .join(hb, "rep")
        .filter(_phash_hamming("a", "b") <= _PH_RADIUS)
        .groupBy("doc_id")
        .agg(F.min("rep").alias("nbr_min"))
    )
    return (
        nh.select("doc_id")
        .join(nbr, "doc_id", "left")
        .select(
            "doc_id",
            F.least(
                F.col("doc_id"), F.coalesce(F.col("nbr_min"), F.col("doc_id"))
            ).alias("group_rep"),
        )
    )


def _phash_assign_oracle() -> str:
    from .fuzzy_dedup import _sql_inc_coin

    return f"""
WITH base AS (
  SELECT d.doc_id, j.range AS j,
         CASE WHEN j.range = 0 THEN 0
              WHEN j.range = 63 THEN 1
              ELSE ((((d.doc_id % {_PH_GROUPS}) + 1)
                     * ((j.range*j.range*7919 + j.range*104729 + 15485863) % 1000003))
                    % 1000003) % 2 END AS b
  FROM documents d, range(0, 64) j
), bits AS (
  SELECT doc_id, j,
         CASE WHEN doc_id % 3 > 0 AND j = (doc_id * 7919) % 62 + 1
              THEN 1 - b ELSE b END AS bit
  FROM base
), h AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN j // 16 = 0 THEN bit * (1::BIGINT << CAST(j % 16 AS INTEGER)) ELSE 0 END) AS BIGINT) AS h0,
         CAST(SUM(CASE WHEN j // 16 = 1 THEN bit * (1::BIGINT << CAST(j % 16 AS INTEGER)) ELSE 0 END) AS BIGINT) AS h1,
         CAST(SUM(CASE WHEN j // 16 = 2 THEN bit * (1::BIGINT << CAST(j % 16 AS INTEGER)) ELSE 0 END) AS BIGINT) AS h2,
         CAST(SUM(CASE WHEN j // 16 = 3 THEN bit * (1::BIGINT << CAST(j % 16 AS INTEGER)) ELSE 0 END) AS BIGINT) AS h3
  FROM bits GROUP BY doc_id
)
SELECT n.doc_id,
       CAST(LEAST(n.doc_id, COALESCE(MIN(b.doc_id), n.doc_id)) AS BIGINT) AS group_rep
FROM h n LEFT JOIN h b
  ON bit_count(xor(n.h0, b.h0)) + bit_count(xor(n.h1, b.h1))
   + bit_count(xor(n.h2, b.h2)) + bit_count(xor(n.h3, b.h3)) <= {_PH_RADIUS}
 AND NOT ({_sql_inc_coin('b.doc_id')})
WHERE {_sql_inc_coin('n.doc_id')}
GROUP BY n.doc_id
"""


@register(
    "mm_phash_assign_from_index",
    oracle=_phash_assign_oracle(),
    tags=("multimodal", "dedup", "index", "maintenance"),
)
def mm_phash_assign_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental image dedup served from the PERSISTED phash-class
    index — the image analog of ``dedup_assign_from_index`` (same
    content-addressed base/batch coin, same scratch freshness/lock/prune
    contract). The base corpus decodes ONCE into the standing class table
    (freshness-gated on repeat calls); the arriving batch decodes only
    itself and band-joins the table, so per-batch cost is
    O(batch + collisions) with the corpus never re-decoded — the exact
    shape a continuous-ingest image-dedup service runs at 100 TB."""
    import os as _os

    from .fuzzy_dedup import _inc_coin
    from .text_index import _prune_stale_sigs, _scratch_index_path, _scratch_lock

    docs = load(spark, sf_dir, "documents").select("doc_id")
    idx = _scratch_index_path(sf_dir, "phash")
    with _scratch_lock(sf_dir) as cdir:
        if refresh_phash_index(spark, docs.filter(~_inc_coin(F.col("doc_id"))), idx):
            _prune_stale_sigs(cdir, _os.path.basename(_os.path.dirname(idx)))
    return assign_from_phash_index(
        spark, idx, docs.filter(_inc_coin(F.col("doc_id")))
    )
