"""Multimodal binary columns: decode / feature-extract plumbing.

Generalizes the reference's PDF-bytes flow (S1/S2: blob → per-page PIL
images → vision model, extract_menu_with_gemini_op.py:31-120) to opaque
``binary`` columns with typed metadata for image/audio/video/pdf at 100 TB:

- Assets are rows of MULTIMODAL_ASSETS (schemas.py): ``content: binary`` +
  modality + metadata map. They arrive via ``spark.read.format("binaryFile")``
  (sources/readers.py) — decode happens **in executors** via ``mapInPandas``,
  never on the driver (SURVEY §7 hard-part (e)).
- The actual codecs (pdf2image/PIL/ffmpeg) are NOT in this container, so the
  decode step is a pluggable ``Decoder``; ``RealDecoder`` raises
  ``NotImplementedError`` with the dependency named, ``FakeDecoder`` produces
  deterministic features so the Spark-side plumbing — schema, batching,
  partition sizing — is fully real and tested.
- Partitioning note: binary rows are large and skewed; repartition by a
  size-bucket (``length(content)``) before the decode stage so one giant
  asset cannot straggle a partition of small ones.
"""

from __future__ import annotations

import hashlib
from typing import Any, Iterator, Protocol

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from restaurant_etl_code_spark.operators._arrow import widen_for_codec

__all__ = [
    "Decoder",
    "RealDecoder",
    "FakeDecoder",
    "HeaderDecoder",
    "PagedPdfDecoder",
    "PAGED_PDF_MAGIC",
    "encode_paged_pdf",
    "pack_pages",
    "explode_page_text",
    "pack_paged_pdf",
    "paged_pdf_text",
    "decode_assets",
    "extract_binary_meta",
    "frame_sample",
    "resize_spec",
]

# One row per decoded unit (page / frame / clip window)
DECODED_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.StringType(), False),
        T.StructField("modality", T.StringType(), False),
        T.StructField("unit_index", T.IntegerType(), False),  # page / frame number
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("feature", T.ArrayType(T.DoubleType()), True),
        T.StructField("decode_error", T.StringType(), True),
    ]
)


class Decoder(Protocol):
    def decode(self, modality: str, content: bytes) -> list[dict[str, Any]]:
        """content → list of decoded units (pages/frames) as dicts with
        unit_index/width/height/n_bytes/feature keys."""
        ...


class RealDecoder:
    """Placeholder for the production decoder. The image/audio libraries
    (pdf2image, PIL, ffmpeg) are not installed in this environment."""

    def decode(self, modality: str, content: bytes) -> list[dict[str, Any]]:
        raise NotImplementedError(
            "RealDecoder requires pdf2image/PIL/ffmpeg (rasterization) — not "
            "available in this container. PDF TEXT extraction works without "
            "them: use minipdf.MiniPdfDecoder / mini_pdf_text (pure-Python "
            "xref+FlateDecode). FakeDecoder covers plumbing tests."
        )


class HeaderDecoder:
    """REAL metadata decode, zero dependencies: parse container headers for
    the formats whose dimensions/audio-params live in fixed byte layouts —
    PNG (IHDR), GIF (logical screen), BMP (BITMAPINFOHEADER), JPEG (SOF
    marker walk), WAV (RIFF fmt chunk). This is the production first stage:
    at 100 TB you want width/height/sample-rate for partitioning, resize
    planning, and corrupt-file triage BEFORE any pixel/sample decode (which
    stays behind ``RealDecoder`` + codec libs).

    Images → one unit with real width/height. WAV → one unit with
    ``feature = [channels, sample_rate, bits_per_sample]`` (audio has no
    spatial dims). Unknown magic bytes raise — absorbed into
    ``decode_error`` by ``decode_assets``, never an exception.
    """

    def decode(self, modality: str, content: bytes) -> list[dict[str, Any]]:
        import struct

        if not content:
            raise ValueError("empty content")

        def unit(**kw):
            base = {
                "unit_index": 0, "width": None, "height": None,
                "n_bytes": len(content), "feature": None,
            }
            base.update(kw)
            return [base]

        if content[:8] == b"\x89PNG\r\n\x1a\n" and len(content) >= 24:
            w, h = struct.unpack(">II", content[16:24])
            return unit(width=w, height=h)
        if content[:3] in (b"GIF",) and len(content) >= 10:
            w, h = struct.unpack("<HH", content[6:10])
            return unit(width=w, height=h)
        if content[:2] == b"BM" and len(content) >= 26:
            w, h = struct.unpack("<ii", content[18:26])
            return unit(width=w, height=abs(h))  # h<0 = top-down rows
        if content[:2] == b"\xff\xd8":  # JPEG: walk markers to a SOF
            i = 2
            while i + 9 <= len(content) and content[i] == 0xFF:
                marker = content[i + 1]
                if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                    h, w = struct.unpack(">HH", content[i + 5 : i + 9])
                    return unit(width=w, height=h)
                seg_len = struct.unpack(">H", content[i + 2 : i + 4])[0]
                i += 2 + seg_len
            raise ValueError("JPEG: no SOF marker found")
        if content[:4] == b"RIFF" and content[8:12] == b"WAVE":
            i = 12
            while i + 8 <= len(content):
                chunk_id = content[i : i + 4]
                chunk_len = struct.unpack("<I", content[i + 4 : i + 8])[0]
                if chunk_id == b"fmt " and i + 24 <= len(content):
                    channels, rate = struct.unpack("<HI", content[i + 10 : i + 16])
                    bits = struct.unpack("<H", content[i + 22 : i + 24])[0]
                    return unit(feature=[float(channels), float(rate), float(bits)])
                i += 8 + chunk_len + (chunk_len & 1)
            raise ValueError("WAV: no fmt chunk found")
        raise ValueError(f"unrecognized container (magic {content[:4]!r})")


# --------------------------------------------------------------------------
# Paged-PDF stand-in container: the U1/S1 end-to-end (PDF bytes → per-page
# units → per-page text → parse, reference extract_menu_with_gemini_op.py:
# 31-120) runs against a REAL byte format that executors genuinely decode —
# no FakeDecoder shortcut. Layout: 8-byte magic, uint32 page count, then per
# page uint32 payload length + UTF-8 payload ("the page's extracted text" —
# standing in for rasterize+vision, whose codecs this container lacks).
# --------------------------------------------------------------------------

PAGED_PDF_MAGIC = b"FPDF0001"
_PAGE_W, _PAGE_H = 612, 792  # US-letter points, what pdf2image reports at 72dpi


def encode_paged_pdf(pages: list[str]) -> bytes:
    """Pack page texts into the container (the fixture/ingest side)."""
    import struct

    out = [PAGED_PDF_MAGIC, struct.pack("<I", len(pages))]
    for p in pages:
        pb = p.encode("utf-8")
        out.append(struct.pack("<I", len(pb)))
        out.append(pb)
    return b"".join(out)


def _decode_paged_pdf(content: bytes) -> list[bytes]:
    import struct

    if content[:8] != PAGED_PDF_MAGIC:
        raise ValueError(f"not a paged-PDF container (magic {content[:4]!r})")
    if len(content) < 12:
        raise ValueError("paged-PDF container truncated in header")
    (n_pages,) = struct.unpack("<I", content[8:12])
    payloads, i = [], 12
    for p in range(n_pages):
        if i + 4 > len(content):
            raise ValueError(f"paged-PDF container truncated at page {p} length")
        (plen,) = struct.unpack("<I", content[i : i + 4])
        if i + 4 + plen > len(content):
            # a silent short slice here would emit corrupted page text with
            # decode_error=NULL — poisoning the corpus instead of flagging it
            raise ValueError(f"paged-PDF container truncated in page {p} payload")
        payloads.append(content[i + 4 : i + 4 + plen])
        i += 4 + plen
    if i != len(content):
        raise ValueError(f"paged-PDF container has {len(content) - i} trailing bytes")
    return payloads


class PagedPdfDecoder:
    """``Decoder`` over the paged container: one unit per page with the
    page's byte length; dimensions are the format's fixed letter-size."""

    def decode(self, modality: str, content: bytes) -> list[dict[str, Any]]:
        return [
            {
                "unit_index": i,
                "width": _PAGE_W,
                "height": _PAGE_H,
                "n_bytes": len(p),
                "feature": None,
            }
            for i, p in enumerate(_decode_paged_pdf(content))
        ]


def pack_pages(
    df: DataFrame, *, id_col: str, pages_col: str, encode_fn,
    modality: str = "pdf", widen: bool = True
) -> DataFrame:
    """Generic ingest stage shared by every page-container codec: encode an
    ``array<string>`` pages column into bytes executor-side (Arrow batches)
    via ``encode_fn(list[str]) -> bytes``. Output: (asset_id, modality,
    content binary). One definition so the paged-container and real-PDF
    writers cannot drift (review: the plumbing had forked four ways)."""
    id_field = df.schema[id_col]
    schema = T.StructType(
        [
            T.StructField("asset_id", id_field.dataType),
            T.StructField("modality", T.StringType(), False),
            T.StructField("content", T.BinaryType(), True),
        ]
    )

    def mapper(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "asset_id": pdf[id_col],
                    "modality": modality,
                    "content": [encode_fn(list(pages)) for pages in pdf[pages_col]],
                }
            )

    staged = df.select(id_col, pages_col)
    if widen:
        staged = widen_for_codec(staged, id_col)
    return staged.mapInPandas(mapper, schema=schema)


def explode_page_text(
    assets: DataFrame, *, id_col: str, content_col: str, decode_fn,
    widen: bool = True
) -> DataFrame:
    """Generic S1/U1 decode stage shared by every page-container codec:
    explode content bytes into per-page TEXT rows (asset_id, page_index,
    page_text, decode_error) via ``decode_fn(bytes) -> list[str]``.
    Undecodable assets yield one row with null text and the error — the
    engine's absorb-don't-throw error model — never an exception."""
    id_field = assets.schema[id_col]
    schema = T.StructType(
        [
            T.StructField("asset_id", id_field.dataType),
            T.StructField("page_index", T.IntegerType(), True),
            T.StructField("page_text", T.StringType(), True),
            T.StructField("decode_error", T.StringType(), True),
        ]
    )

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rec in pdf.to_dict("records"):
                try:
                    for i, page_text in enumerate(decode_fn(bytes(rec[content_col]))):
                        rows.append(
                            {
                                "asset_id": rec[id_col],
                                "page_index": i,
                                "page_text": page_text,
                                "decode_error": None,
                            }
                        )
                except Exception as exc:  # noqa: BLE001
                    rows.append(
                        {
                            "asset_id": rec[id_col],
                            "page_index": None,
                            "page_text": None,
                            "decode_error": f"{type(exc).__name__}: {exc}",
                        }
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    staged = assets.select(id_col, content_col)
    if widen:
        staged = widen_for_codec(staged, id_col)
    return staged.mapInPandas(mapper, schema=schema)


def pack_paged_pdf(df: DataFrame, *, id_col: str, pages_col: str) -> DataFrame:
    """Encode an ``array<string>`` pages column into container bytes —
    ``pack_pages`` with the paged-container codec."""
    # the stand-in container is a header-cheap codec (struct pack of the
    # page texts): per-row Python cost is tiny, so the widening shuffle
    # costs more than the parallelism buys — widen only the REAL codecs
    return pack_pages(
        df, id_col=id_col, pages_col=pages_col, encode_fn=encode_paged_pdf,
        widen=False,
    )


def paged_pdf_text(assets: DataFrame, *, id_col: str = "asset_id",
                   content_col: str = "content") -> DataFrame:
    """Explode paged-PDF container bytes into per-page TEXT rows —
    ``explode_page_text`` with the paged-container codec."""
    return explode_page_text(
        assets,
        id_col=id_col,
        content_col=content_col,
        decode_fn=lambda b: [p.decode("utf-8") for p in _decode_paged_pdf(b)],
        widen=False,  # header-cheap codec — see pack_paged_pdf
    )


class FakeDecoder:
    """Deterministic fake: derives unit count and 4-dim features from the
    bytes themselves (md5-seeded), so plumbing tests have stable goldens."""

    def decode(self, modality: str, content: bytes) -> list[dict[str, Any]]:
        if content is None:
            raise ValueError("null content")
        digest = hashlib.md5(content).hexdigest()
        n_units = int(digest[:2], 16) % 3 + 1  # 1-3 pages/frames
        units = []
        for i in range(n_units):
            h = hashlib.md5(f"{digest}:{i}".encode()).hexdigest()
            units.append(
                {
                    "unit_index": i,
                    "width": int(h[:4], 16) % 1920,
                    "height": int(h[4:8], 16) % 1080,
                    "n_bytes": len(content),
                    "feature": [
                        (int(h[j * 8 : j * 8 + 8], 16) % 2000) / 1000.0 - 1.0 for j in range(4)
                    ],
                }
            )
        return units


def decode_assets(assets: DataFrame, decoder_factory=FakeDecoder) -> DataFrame:
    """Explode assets into decoded units via an Arrow-batched stage. Errors
    are absorbed into ``decode_error`` (one stub row per failed asset) —
    never an exception, matching the engine's error model."""

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        decoder = decoder_factory()
        for pdf in batches:
            rows = []
            for rec in pdf.to_dict("records"):
                base = {"asset_id": rec["asset_id"], "modality": rec["modality"]}
                try:
                    for unit in decoder.decode(rec["modality"], rec.get("content")):
                        rows.append({**base, **unit, "decode_error": None})
                except Exception as exc:  # noqa: BLE001
                    rows.append(
                        {
                            **base,
                            "unit_index": 0,
                            "width": None,
                            "height": None,
                            "n_bytes": None,
                            "feature": None,
                            "decode_error": f"{type(exc).__name__}: {exc}",
                        }
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in DECODED_SCHEMA.fields])

    return assets.mapInPandas(mapper, schema=DECODED_SCHEMA)


def extract_binary_meta(assets: DataFrame) -> DataFrame:
    """Cheap JVM-side metadata (no Python): byte length + digest — the
    filter/dedup columns you want *before* paying for any decode."""
    return assets.select(
        "asset_id",
        "modality",
        F.length(F.col("content")).alias("n_bytes"),
        F.md5(F.col("content")).alias("digest"),
    )


def frame_sample(
    decoded: DataFrame, *, stride: int | None = None, max_units: int | None = None
) -> DataFrame:
    """Deterministic frame/page sampling over decoded units — every
    ``stride``-th unit and/or the first ``max_units`` per asset. Pure
    JVM-side filters (unit_index is already materialized), so sampling
    happens BEFORE any expensive per-frame work; at 100 TB this is the
    difference between featurizing every video frame and 1-in-30."""
    out = decoded
    if stride is not None:
        out = out.filter(F.col("unit_index") % stride == 0)
    if max_units is not None:
        out = out.filter(F.col("unit_index") < max_units)
    return out


def resize_spec(
    decoded: DataFrame, *, max_width: int, max_height: int
) -> DataFrame:
    """Aspect-preserving resize planning: target dimensions + scale factor
    as pure expressions (never upscale). The pixel transform itself is
    codec work behind the ``Decoder`` protocol (absent in this container);
    the planning columns are what the pipeline partitions, budgets, and
    tests on — and at scale you want them computed BEFORE shipping bytes
    to a GPU decode stage."""
    scale = F.least(
        F.lit(max_width) / F.col("width"),
        F.lit(max_height) / F.col("height"),
        F.lit(1.0),
    )
    return decoded.withColumn("scale", F.round(scale, 6)).withColumn(
        "target_width", F.floor(F.col("width") * F.col("scale")).cast("int")
    ).withColumn(
        "target_height", F.floor(F.col("height") * F.col("scale")).cast("int")
    )
